"""PanelSplit: panel-data time-series cross-validation over Spark DataFrames.

Spark-first re-expression of the reference splitter
(/root/reference/panelsplit/cross_validation.py:41-470). The reference
computes integer row-index arrays per fold; Spark DataFrames are unordered
bags, so folds here are **period predicates** instead — semantically
identical because reference fold membership is purely a function of
``(period, snapshot)`` (cross_validation.py:186-197), never of row position.

Two physical strategies are exposed (SURVEY §4.2):

* **loop** — n_splits filtered scans; each filter is a sargable BETWEEN that
  Catalyst pushes into the parquet scan (partition pruning when data is laid
  out by period). Best when folds are few and data is big.
* **fan-out** — one narrow pass that tags each row with its
  ``(fold_id, role)`` memberships and explodes them: a literal
  expression (hash ``IN``-set, then a CASE tree over the sorted
  membership segments) computes each row's membership array, so there
  is no join, no broadcast and no extra Spark job. Best for many folds
  and for single-pass statistics (``drop_splits``, ``gen_snapshots``).
"""

from __future__ import annotations

import datetime
import json
from typing import Any, Callable, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, functions as F, types as T

from ..functions.sql import sql_ident, sql_literal
from ..plans.fold_spec import (
    FoldSpec,
    build_fold_spec,
    purged_kfold_bounds,
    spark_order_key,
)
from .linear_fastpath import _memo
from .timeseries import dec38, exact_line

__all__ = [
    "PanelSplit",
    "distinct_periods",
    "explode_memberships",
    "fold_stats",
    "drop_splits",
    "date_period_bounds",
    "purged_panel_assign",
    "cpcv_panel_assign",
    "cpcv_backtest_paths",
    "fold_line_fit",
    "nested_ridge_cv",
]


def distinct_periods(df: DataFrame, period_col: str) -> List[Any]:
    """Sorted distinct non-NULL values of ``period_col``: one
    distinct aggregate job (partial aggregation map-side, only distinct
    values cross the wire), sorted on the driver in Spark's order (NaN
    last) — #periods ≪ #rows, so a Spark sort would only add jobs.
    Memoised per frame and column in the memo that holds the frame's
    moment cubes, so two splitters on one frame collect once."""

    def collect() -> List[Any]:
        rows = (
            df.select(F.col(period_col).alias("p"))
            .where(F.col(period_col).isNotNull())
            .distinct()
            .collect()
        )
        return sorted((r["p"] for r in rows), key=spark_order_key)

    return list(_memo(df, ("periods", period_col), collect))


def explode_memberships(
    df: DataFrame,
    period_col: str,
    memberships: Sequence[Tuple[Any, Sequence[Tuple[Any, ...]]]],
    fields: Sequence[Tuple[str, Any]],
) -> DataFrame:
    """One row per (data row, membership of its period): ``df``'s
    columns + one column per ``fields`` entry ``(name, Spark type)``.

    ``memberships`` lists, in Spark's ascending order, every member
    period with its value tuples (one value per field). Two SQL literal
    expressions, each handed to Spark in a single call: a hash
    ``IN``-set filter of the member periods gives exact membership (a
    value absent from the list is dropped even inside a run of members)
    and reaches the scan as a pushed filter; then a binary CASE tree
    over the runs of periods sharing one membership list picks the
    row's literal array — O(log #runs) comparisons per row — and the
    explode (``inline``) keeps the pass narrow: no join, no broadcast,
    no extra job.
    """
    ptype = df.schema[period_col].dataType
    col = sql_ident(period_col)
    struct = ", ".join(f"{n}: {t.simpleString()}" for n, t in fields)

    def leaf(members) -> str:
        return "array(" + ", ".join(
            "named_struct(" + ", ".join(
                f"'{n}', {sql_literal(v, t)}"
                for (n, t), v in zip(fields, m)
            ) + ")"
            for m in members
        ) + ")"

    runs: List[Tuple[Any, Sequence[Tuple[Any, ...]]]] = []
    for p, m in memberships:
        if not runs or runs[-1][1] != m:
            runs.append((p, m))

    def tree(lo: int, hi: int) -> str:
        if hi - lo == 1:
            return leaf(runs[lo][1])
        mid = (lo + hi) // 2
        return (
            f"CASE WHEN {col} < {sql_literal(runs[mid][0], ptype)} "
            f"THEN {tree(lo, mid)} ELSE {tree(mid, hi)} END"
        )

    if not runs:
        empty = f"CAST(NULL AS array<struct<{struct}>>)"
        return df.select("*", F.inline(F.expr(empty)))
    in_set = ", ".join(sql_literal(p, ptype) for p, _ in memberships)
    return df.where(F.expr(f"{col} IN ({in_set})")).select(
        "*", F.inline(F.expr(tree(0, len(runs))))
    )


class _DatePeriodBounds:
    """Picklable period→raw-bounds mapper (a closure would break the
    fitted-pipeline pickle protocol, reference pipeline.py:1145-1244)."""

    def __init__(self, pattern: str) -> None:
        self.pattern = pattern

    def __call__(self, period: str) -> Tuple[Any, Any]:
        pattern = self.pattern
        if pattern == "yyyy":
            y = int(period)
            return (
                datetime.datetime(y, 1, 1),
                datetime.datetime(y + 1, 1, 1),
            )
        if pattern == "yyyy-MM":
            y, m = map(int, period.split("-"))
            lo = datetime.datetime(y, m, 1)
            hi = (
                datetime.datetime(y + 1, 1, 1)
                if m == 12
                else datetime.datetime(y, m + 1, 1)
            )
            return lo, hi
        if pattern == "yyyy-MM-dd":
            lo = datetime.datetime.strptime(period, "%Y-%m-%d")
            return lo, lo + datetime.timedelta(days=1)
        raise ValueError(f"Unsupported period pattern: {pattern}")


def date_period_bounds(pattern: str) -> Callable[[Any], Tuple[Any, Any]]:
    """Map a formatted period string back to raw-timestamp bounds
    ``[lo, hi)`` — the inverse needed to make fold predicates **sargable
    on the scan column** when periods are derived via
    ``date_format(ts, pattern)`` (a monotone transform).

    Supports the common panel granularities ``yyyy``, ``yyyy-MM``,
    ``yyyy-MM-dd``.
    """
    return _DatePeriodBounds(pattern)


class PanelSplit:
    """Expanding-window panel cross-validator over a Spark DataFrame.

    Parameters mirror the reference (cross_validation.py:93-104) but take
    **column names** instead of aligned Series — on Spark the data, target,
    periods and snapshots all live in one DataFrame.

    Parameters
    ----------
    df : DataFrame
        The panel data. Only used to derive distinct periods (one tiny
        aggregate job) and, when ``snapshot_col`` is set, ``min(snapshot)``.
    period_col : str
        Column holding the time coordinate of each row.
    unique_periods : optional sequence
        Pre-computed sorted unique periods; skips the distinct job.
    snapshot_col : optional str
        Column holding the data-vintage ("as of") coordinate; enables the
        reference's snapshot selection rule (cross_validation.py:172-193).
    n_splits, gap, test_size, max_train_size,
    include_first_train_in_test, include_train_in_test
        Exactly the reference's fold-arithmetic knobs.
    """

    def __init__(
        self,
        df: Optional[DataFrame] = None,
        period_col: str = "period",
        unique_periods: Optional[Sequence[Any]] = None,
        snapshot_col: Optional[str] = None,
        n_splits: int = 2,
        gap: int = 0,
        test_size: int = 1,
        max_train_size: Optional[int] = None,
        include_first_train_in_test: bool = False,
        include_train_in_test: bool = False,
        scan_col: Optional[str] = None,
        period_bounds: Optional[Callable[[Any], Tuple[Any, Any]]] = None,
    ) -> None:
        """``scan_col`` + ``period_bounds`` enable **scan pruning for
        derived periods**: when ``period_col`` is computed from a raw
        column by a monotone transform (e.g. ``date_format(ts, 'yyyy-MM')``
        — see :func:`date_period_bounds`), every fold predicate also
        emits a sargable range on the raw column, which Catalyst pushes
        into the parquet scan (``PushedFilters``) and uses for partition
        pruning. Without it, a derived-period filter evaluates after a
        full scan — fine at 60k rows, fatal at 100 TB.
        """
        if unique_periods is None:
            if df is None:
                raise ValueError("provide either df or unique_periods")
            unique_periods = distinct_periods(df, period_col)
        snapshot_min = None
        if snapshot_col is not None:
            if df is None:
                raise ValueError("snapshot_col requires df")
            snapshot_min = df.agg(
                F.min(snapshot_col).alias("m")
            ).collect()[0]["m"]
        self.period_col = period_col
        self.snapshot_col = snapshot_col
        self.scan_col = scan_col
        self.period_bounds = period_bounds
        self.spec: FoldSpec = build_fold_spec(
            unique_periods,
            n_splits=n_splits,
            gap=gap,
            test_size=test_size,
            max_train_size=max_train_size,
            include_first_train_in_test=include_first_train_in_test,
            include_train_in_test=include_train_in_test,
            snapshot_min=snapshot_min,
        )
        self.n_splits = n_splits
        # mirror of the reference's `_u_periods_cv` attribute (used by plot)
        self._u_periods_cv: List[Tuple[list, list]] = [
            (f.train_periods, f.test_periods) for f in self.spec.folds
        ]

    @classmethod
    def from_folds(
        cls,
        folds: Sequence[Tuple[Sequence[Any], Sequence[Any]]],
        period_col: str = "period",
        snapshot_col: Optional[str] = None,
        scan_col: Optional[str] = None,
        period_bounds: Optional[Callable[[Any], Tuple[Any, Any]]] = None,
    ) -> "PanelSplit":
        """Build a splitter from a literal iterable of
        ``(train_periods, test_periods)`` pairs — the reference accepts
        raw split lists anywhere a splitter goes
        (utils/validation.py:218-227). Arbitrary (even non-contiguous)
        period sets are supported; predicates fall back to per-value
        ranges."""
        from ..plans.fold_spec import Fold, FoldSpec

        ps = cls.__new__(cls)
        ps.period_col = period_col
        ps.snapshot_col = snapshot_col
        ps.scan_col = scan_col
        ps.period_bounds = period_bounds
        all_periods = sorted(
            {p for tr, te in folds for p in list(tr) + list(te)},
            key=spark_order_key,
        )

        def ranges(vals):
            """Merge sorted period values into contiguous runs w.r.t.
            the global unique-period axis."""
            vals = sorted(set(vals), key=spark_order_key)
            if not vals:
                return []
            idx = {p: i for i, p in enumerate(all_periods)}
            out = []
            start = prev = vals[0]
            for v in vals[1:]:
                if idx[v] == idx[prev] + 1:
                    prev = v
                else:
                    out.append((start, prev))
                    start = prev = v
            out.append((start, prev))
            return out

        built = []
        for i, (tr, te) in enumerate(folds):
            built.append(
                Fold(
                    fold_id=i,
                    train_periods=sorted(set(tr), key=spark_order_key),
                    test_periods=sorted(set(te), key=spark_order_key),
                    train_ranges=ranges(tr),
                    test_ranges=ranges(te),
                )
            )
        ps.spec = FoldSpec(
            unique_periods=all_periods, folds=built, n_splits=len(built)
        )
        ps.n_splits = len(built)
        ps._u_periods_cv = [
            (f.train_periods, f.test_periods) for f in built
        ]
        return ps

    # ------------------------------------------------------------------
    # sklearn-CV-protocol surface (cross_validation.py:203-277)
    # ------------------------------------------------------------------

    def get_n_splits(self, X=None, y=None, groups=None) -> int:
        return self.n_splits

    def split(
        self, df: Optional[DataFrame] = None, X=None, y=None, groups=None
    ):
        """Yield ``(train_df, test_df)`` per fold when given a DataFrame,
        else the list of ``(train_periods, test_periods)`` value folds.

        Both are lazy: filters are only predicates until an action runs.
        """
        if df is None:
            return list(self._u_periods_cv)
        return [
            (
                df.where(self.train_filter(i)),
                df.where(self.test_filter(i)),
            )
            for i in range(self.n_splits)
        ]

    # ------------------------------------------------------------------
    # predicates (loop strategy)
    # ------------------------------------------------------------------

    def _snap(self):
        return F.col(self.snapshot_col) if self.snapshot_col else None

    def _scan_bounds(
        self, ranges: List[Tuple[Any, Any]]
    ) -> List[Tuple[Any, Any]]:
        """Raw-column ``[lo, hi)`` bounds of the given period ranges
        (empty when no scan mapping is configured)."""
        if not (self.scan_col and self.period_bounds):
            return []
        return [
            (self.period_bounds(lo)[0], self.period_bounds(hi)[1])
            for lo, hi in ranges
        ]

    def _scan_range(self, ranges: List[Tuple[Any, Any]]):
        """Sargable raw-column OR-of-ranges for the given period ranges
        (None when no scan mapping is configured)."""
        pred = None
        for raw_lo, raw_hi in self._scan_bounds(ranges):
            p = (F.col(self.scan_col) >= F.lit(raw_lo)) & (
                F.col(self.scan_col) < F.lit(raw_hi)
            )
            pred = p if pred is None else (pred | p)
        return pred

    def _train_scope(self, df: DataFrame) -> Tuple[Any, Any]:
        """``(predicate, key)``: a row filter that keeps every row any
        fold trains on, and a hashable key naming it (the moment cube
        is memoised under it). It is the raw-column scan range of the
        merged train periods when a scan mapping is configured and,
        with a snapshot column, an ``IN``-set of the folds' snapshot
        values; ``predicate`` is None when neither applies."""
        ranges = self.spec.union_ranges("train")
        pred = self._scan_range(ranges)
        snaps = None
        if self.snapshot_col:
            snaps = sorted(
                {f.snapshot_value for f in self.spec.folds} - {None},
                key=spark_order_key,
            )
            dtype = df.schema[self.snapshot_col].dataType
            in_set = ", ".join(sql_literal(v, dtype) for v in snaps)
            p = (
                F.expr(f"{sql_ident(self.snapshot_col)} IN ({in_set})")
                if snaps else F.lit(False)
            )
            pred = p if pred is None else (pred & p)
            snaps = tuple(snaps)
        return pred, (tuple(self._scan_bounds(ranges)), snaps)

    def _role_filter(self, fold_id: int, role: str):
        pred = self.spec.predicate(
            F.col(self.period_col), fold_id, role, self._snap()
        )
        extra = self._scan_range(self.spec._role_ranges(fold_id, role))
        return pred if extra is None else (extra & pred)

    def train_filter(self, fold_id: int):
        return self._role_filter(fold_id, "train")

    def test_filter(self, fold_id: int):
        return self._role_filter(fold_id, "test")

    # ------------------------------------------------------------------
    # fan-out strategy
    # ------------------------------------------------------------------

    def assign(
        self, df: DataFrame, roles: Tuple[str, ...] = ("train", "test")
    ) -> DataFrame:
        """Fan-out: one row per (data row, fold membership).

        A single narrow pass (:func:`explode_memberships`): each row's
        membership array is a literal expression over its period — no
        join and no broadcast, regardless of n_splits — exploded in
        place. Rows whose period is NULL or in no requested
        ``(fold, role)`` produce nothing; with a snapshot column a row
        only joins a fold at that fold's snapshot value. Output columns
        = df's + ``fold_id`` + ``role``.
        """
        # pre-prune the scan to the union of all folds' periods when a
        # sargable raw-column mapping is configured
        all_ranges = []
        for f in self.spec.folds:
            all_ranges.extend(f.train_ranges)
            all_ranges.extend(f.test_ranges)
        extra = self._scan_range(all_ranges)
        if extra is not None:
            df = df.where(extra)
        fields = [("fold_id", T.IntegerType()), ("role", T.StringType())]
        memberships = self.spec.memberships(roles)
        if not self.snapshot_col:
            return explode_memberships(
                df, self.period_col, memberships, fields
            )
        snaps = [f.snapshot_value for f in self.spec.folds]
        fields.append(("__snap", df.schema[self.snapshot_col].dataType))
        memberships = [
            (p, [(fid, role, snaps[fid]) for fid, role in m])
            for p, m in memberships
        ]
        return (
            explode_memberships(df, self.period_col, memberships, fields)
            .where(F.col(self.snapshot_col) == F.col("__snap"))
            .drop("__snap")
        )

    def assign_columns(
        self, df: DataFrame, cols: Sequence[str], roles: Tuple[str, ...]
    ) -> DataFrame:
        """:meth:`assign` over only ``cols`` plus the period and snapshot
        columns, each once: what a fold-wise fit or apply ships."""
        snap = [self.snapshot_col] if self.snapshot_col else []
        needed = dict.fromkeys([*cols, self.period_col, *snap])
        return self.assign(df.selectExpr(*map(sql_ident, needed)), roles)

    # ------------------------------------------------------------------
    # label-frame helpers (cross_validation.py:279-353)
    # ------------------------------------------------------------------

    def gen_train_labels(self, df: DataFrame) -> DataFrame:
        """Rows belonging to ANY fold's train set (deduped by construction:
        it's a filter on the original rows, i.e. a semi-join with the fold
        spec — no row is duplicated)."""
        return df.where(
            self.spec.union_predicate(
                F.col(self.period_col), "train", self._snap()
            )
        )

    def gen_test_labels(self, df: DataFrame) -> DataFrame:
        """Rows belonging to ANY fold's test set; the frame OOF
        predictions attach to (reference tests/test_PanelSplit.py:66-68)."""
        return df.where(
            self.spec.union_predicate(
                F.col(self.period_col), "test", self._snap()
            )
        )

    def gen_snapshots(
        self, df: DataFrame, period_col: Optional[str] = None
    ) -> DataFrame:
        """Per fold: rows in train ∪ test, plus ``split`` and (if
        ``period_col``) ``snapshot_period`` = max period in the fold
        (cross_validation.py:355-428). Implemented as a projection +
        literal columns + ``unionByName`` — Spark unions are plan-level
        (no data movement), and each branch's filter still pushes down.
        """
        parts = []
        for f in self.spec.folds:
            pred = self.train_filter(f.fold_id) | self.test_filter(f.fold_id)
            part = df.where(pred).withColumn(
                "split", F.lit(f.fold_id).cast("int")
            )
            if period_col is not None:
                last = max(list(f.train_periods) + list(f.test_periods))
                part = part.withColumn("snapshot_period", F.lit(last))
            parts.append(part)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


def fold_stats(
    cv: PanelSplit, df: DataFrame, y_col: str, exact: bool = True
) -> DataFrame:
    """Per-(fold, role) row count and distinct-y count in ONE pass:
    fan-out assign → grouped aggregate with map-side partials.

    The reference's n_unique counts NULL as its own distinct value
    (narwhals semantics; pinned by the doctest where train y = [0, NaN]
    yields 2 uniques). Spark's countDistinct drops NULLs — adjusted with
    an explicit null-presence term.
    """
    nd = (
        F.countDistinct(F.col(y_col))
        if exact
        else F.approx_count_distinct(F.col(y_col))
    )
    has_null = F.max(
        F.when(F.col(y_col).isNull(), F.lit(1)).otherwise(F.lit(0))
    )
    return (
        cv.assign(df)
        .groupBy("fold_id", "role")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (nd + has_null).cast("long").alias("nuniq"),
        )
    )


def drop_splits(
    cv: PanelSplit,
    df: DataFrame,
    y_col: str,
    exact: bool = True,
    check_all: bool = False,
) -> PanelSplit:
    """Drop folds whose train or test set is empty or whose ``y`` has a
    single distinct value (reference cross_validation.py:431-470).

    One single-pass job: fan-out assign → ``groupBy(fold_id, role)`` with
    map-side partial aggregation of ``count`` + ``countDistinct`` — not
    2×n_splits separate scans. At very large scale pass ``exact=False`` to
    use ``approx_count_distinct`` (HLL, no distinct-expansion shuffle).

    The reference pops folds from the list *while iterating*
    (cross_validation.py:460-466), so the fold immediately following a
    dropped one is never inspected — behavior pinned by its own doctest
    (cross_validation.py:236-242). Default replicates that observable
    semantics; pass ``check_all=True`` for the fixed rule that inspects
    every fold (SURVEY §7.3 risk 2).
    """
    stats = fold_stats(cv, df, y_col, exact=exact).collect()
    by_fold = {}
    for r in stats:
        by_fold.setdefault(r["fold_id"], {})[r["role"]] = (r["n"], r["nuniq"])

    def bad(f) -> bool:
        tr = by_fold.get(f.fold_id, {}).get("train", (0, 0))
        te = by_fold.get(f.fold_id, {}).get("test", (0, 0))
        return tr[0] == 0 or te[0] == 0 or tr[1] == 1 or te[1] == 1

    keep = list(cv.spec.folds)
    if check_all:
        dropped = [f for f in keep if bad(f)]
        keep = [f for f in keep if not bad(f)]
        for f in dropped:
            _print_drop(f.fold_id)
    else:
        # Emulate the reference's pop-while-iterating loop: after a drop at
        # position i, the element that slides into i is skipped.
        i = 0
        while i < len(keep):
            if bad(keep[i]):
                _print_drop(i)
                keep.pop(i)
            i += 1
    for new_id, f in enumerate(keep):  # renumber to dense fold ids
        f.fold_id = new_id
    cv.spec.folds = keep
    cv.spec.n_splits = len(keep)
    cv.n_splits = len(keep)
    cv._u_periods_cv = [(f.train_periods, f.test_periods) for f in keep]
    return cv


def _print_drop(i: int) -> None:
    print(
        f"Dropping split {i} as either the test or train set is either "
        "empty or contains only one unique value."
    )


def purged_panel_assign(
    df,
    period_col: str,
    n_splits: int,
    purge: int = 0,
    embargo: int = 0,
) -> "DataFrame":
    """Purged K-fold assignment with embargo over a panel's period axis
    (plans/fold_spec.purged_kfold_bounds): fan-out one row per
    (data row, fold membership) with ``fold_id`` + ``role`` columns,
    where each fold's train set excludes the periods inside
    ``[test_lo - purge, test_hi + embargo)``.

    Extends the reference's walk-forward-only surface
    (cross_validation.py:56-127 delegates to TimeSeriesSplit) with the
    de Prado scheme serially-correlated panels need when folds may
    train on post-test data.

    Plan shape at 100 TB: identical to ``PanelSplit.assign`` — the
    distinct-period collect is the same driver-small boundary every
    splitter pays (periods ≪ rows), and the fan-out is one narrow
    literal-membership explode (:func:`explode_memberships`): one pass
    over the data, no join, no shuffle.
    """
    periods = distinct_periods(df, period_col)
    bounds = purged_kfold_bounds(len(periods), n_splits, purge, embargo)
    members = []
    for rk, p in enumerate(periods):
        m = []
        for i, (tlo, thi, xlo, xhi) in enumerate(bounds):
            if tlo <= rk < thi:
                m.append((i, "test"))
            elif rk < xlo or rk >= xhi:
                m.append((i, "train"))
        if m:
            members.append((p, m))
    return explode_memberships(
        df, period_col, members,
        [("fold_id", T.LongType()), ("role", T.StringType())],
    )


def cpcv_panel_assign(
    df,
    period_col: str,
    n_groups: int = 6,
    n_test_groups: int = 2,
    purge: int = 0,
    embargo: int = 0,
) -> "DataFrame":
    """Combinatorial purged CV assignment (plans/fold_spec.cpcv_splits)
    — one row per (data row, split membership) with ``split_id`` +
    ``role``, where every C(G, k) combination of period groups serves
    as a test set and train excludes each test block's
    ``[lo − purge, hi + embargo)`` window. The scheme the reference's
    walk-forward surface cannot express: multiple backtest paths per
    period from one assignment.

    Plan shape: identical to :func:`purged_panel_assign` — driver-small
    distinct-period collect, then ONE narrow literal-membership explode
    of the fact table with up to C(G,k) memberships per row.
    """
    return _cpcv_assign(
        df, period_col, distinct_periods(df, period_col),
        n_groups, n_test_groups, purge, embargo,
    )


def _cpcv_assign(
    df, period_col, periods, n_groups, n_test_groups, purge, embargo
):
    """:func:`cpcv_panel_assign` over an already-collected sorted
    period list."""
    from ..plans.fold_spec import cpcv_splits

    n = len(periods)
    splits = cpcv_splits(n, n_groups, n_test_groups, purge, embargo)
    windows = [
        (
            sid,
            blocks,
            [(max(0, lo - purge), min(n, hi + embargo)) for lo, hi in blocks],
        )
        for sid, blocks in splits
    ]
    members = []
    for rk, p in enumerate(periods):
        m = []
        for sid, blocks, excl in windows:
            if any(lo <= rk < hi for lo, hi in blocks):
                m.append((sid, "test"))
            elif not any(lo <= rk < hi for lo, hi in excl):
                m.append((sid, "train"))
        if m:
            members.append((p, m))
    return explode_memberships(
        df, period_col, members,
        [("split_id", T.LongType()), ("role", T.StringType())],
    )


def cpcv_backtest_paths(
    df,
    period_col: str,
    x_col: str,
    y_col: str,
    n_groups: int = 6,
    n_test_groups: int = 2,
    purge: int = 0,
    embargo: int = 0,
) -> "DataFrame":
    """The POINT of CPCV: assemble the C(G−1, k−1) complete backtest
    paths — each path covers every period group exactly once, taking
    group g's out-of-sample predictions from the path-th split (in
    lexicographic order) that tests g — and score each path's OOF MSE
    of the closed-form OLS fit. The distribution ACROSS paths is what
    a single walk-forward backtest cannot give: a variance estimate of
    the backtest itself (de Prado ch. 12, public scheme).

    Everything stays exact: per-split train moments are one filtered
    grouped aggregate over the fan-out assignment (integer-quantized
    ``x_col``/``y_col``), slopes come from
    :func:`~.timeseries.exact_line`, per-row squared residuals quantize
    to MILLI-units after the engine-identical double prediction, and
    each path's MSE is ONE division of the exact residual sum. Path
    membership is pure combination arithmetic applied as two literal
    lookups — a CASE over the group start periods gives a row's group,
    a JSON ``path[split][group]`` table its path — so no driver-built
    table is joined in.

    100 TB shape: the fact table passes twice (train-moment aggregate;
    test-residual aggregate), both keyed by split — C(G,k) multiplies
    only the per-split fit frame, never the data passes.

    Output: one row per path — ``path_id n_rows sse_milli mse``.
    """
    from itertools import combinations

    periods = distinct_periods(df, period_col)
    assign = _cpcv_assign(
        df, period_col, periods, n_groups, n_test_groups, purge, embargo
    )
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    fit = (
        assign.where(F.col("role") == "train")
        .groupBy("split_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(dec38(x) * x).alias("sxx"),
            F.sum(dec38(x) * y).alias("sxy"),
        )
    )
    b1, b0 = exact_line("n", "sx", "sy", "sxx", "sxy")
    fit = fit.select("split_id", b1.alias("b1"), b0.alias("b0"))

    # path[split][group]: the p-th split (lexicographic combo order)
    # testing a group belongs to path p; NULL where the split does not
    # test the group
    paths: List[List[Optional[int]]] = []
    tested = [0] * n_groups
    for combo in combinations(range(n_groups), n_test_groups):
        row: List[Optional[int]] = [None] * n_groups
        for g in combo:
            row[g] = tested[g]
            tested[g] += 1
        paths.append(row)
    path_of = F.from_json(F.lit(json.dumps(paths)), "array<array<bigint>>")

    # group of a period, replayed from the SAME split geometry: the
    # groups are contiguous period-rank blocks, so comparisons against
    # the first period of groups 1..G-1 decide it
    ptype = df.schema[period_col].dataType
    q, r = divmod(len(periods), n_groups)
    group = F.expr(
        "CASE "
        + " ".join(
            f"WHEN {sql_ident(period_col)} < "
            f"{sql_literal(periods[g * q + min(g, r)], ptype)} "
            f"THEN {g - 1}"
            for g in range(1, n_groups)
        )
        + f" ELSE {n_groups - 1} END"
    )

    test = assign.where(F.col("role") == "test").join(
        F.broadcast(fit), "split_id"
    )
    resid = y.cast("double") - (
        F.col("b0") + F.col("b1") * x.cast("double")
    )
    sq_milli = F.round(resid * resid * F.lit(1000.0)).cast("long")
    path_id = path_of[F.col("split_id")][group]
    out = test.groupBy(path_id.alias("path_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(dec38(sq_milli)).alias("__sse"),
    )
    return out.select(
        "path_id",
        "n_rows",
        F.col("__sse").cast("long").alias("sse_milli"),
        (
            F.col("__sse").cast("double")
            / F.col("n_rows").cast("double")
            / F.lit(1000.0)
        ).alias("mse"),
    )


def fold_line_fit(
    assigned: DataFrame, key: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-fold one-regressor OLS of ``y_col`` on ``x_col`` over the
    ``role = 'train'`` rows of an assigned frame (``PanelSplit.assign``,
    ``cpcv_panel_assign``): ONE ``groupBy(key)`` of LONG moments
    (n, Σx, Σy, Σx², Σxy — both columns integer-quantized by the
    caller, the products kept in int64), then
    :func:`~.timeseries.exact_line` for the slope ``b1`` and intercept
    ``b0``, plus the train mean ``ybar`` for the mean baseline.

    Output: one row per key — ``key n sx sy b1 b0 ybar``; columns a
    caller never reads are pruned from its plan. The frame is tiny
    (one row per fold), so callers broadcast it onto the test rows.
    """
    x, y = F.col(x_col), F.col(y_col)
    mom = (
        assigned.where(F.col("role") == "train")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(x * x).alias("sxx"),
            F.sum(x * y).alias("sxy"),
        )
    )
    b1, b0 = exact_line("n", "sx", "sy", "sxx", "sxy")
    return mom.select(
        key,
        "n",
        "sx",
        "sy",
        b1.alias("b1"),
        b0.alias("b0"),
        (
            F.col("sy").cast("double") / F.col("n").cast("double")
        ).alias("ybar"),
    )


def nested_ridge_cv(
    df,
    band_col: str,
    bucket_col: str,
    x_col: str,
    y_col: str,
    n_bands: int,
    n_buckets: int,
    lambdas=(0, 1, 10, 100),
):
    """Nested cross-validation as PURE sufficient-statistic algebra —
    zero refits: outer folds are expanding time bands (outer o trains
    on bands 0..o, tests band o+1), inner folds are content-hash
    buckets of the outer train set, and the λ grid of a 1-feature
    ridge is swept entirely from ONE (band × bucket) moment aggregate:

    * leave-bucket-out train moments = total − bucket (moment
      additivity — no data pass per inner fold);
    * ridge slope b1 = (nΣxy − ΣxΣy) / ((nΣxx − (Σx)²) + λ·n²) — the
      penalty λ·n² is an exact integer, so each slope is ONE double
      division of two exact integers;
    * validation/test SSE by the moment expansion
      Σy² − 2b₀Σy − 2b₁Σxy + n·b₀² + 2b₀b₁Σx + b₁²Σx² — no per-row
      residual pass for ANY (outer, inner, λ) combination.

    Each inner fold's SSE quantizes to INTEGER units before the sum
    over folds (a float sum's order is engine-undefined; an integer
    sum is not), so λ* per outer fold = argmin of an EXACT integer,
    ties to the smaller λ. Callers quantize y coarsely enough that
    the SSE stays below 2^63 (the docstring contract of every moment
    operator here). The whole procedure — C(outer)·|λ|·K fits — costs one
    grouped aggregate over the data plus arithmetic on
    n_bands·n_buckets rows, which is why it scales to 100 TB where
    the classical nested loop (refit per cell) cannot. The moment
    frame is driver-small by construction (≤ bands·buckets rows), so
    the algebra runs driver-side and the result re-enters Spark as a
    literal frame (the established IRLS-trace pattern); the oracle
    replays the identical algebra in SQL over its own moment CTE.

    Returns one row per outer fold:
    ``outer_fold lambda_star inner_sse n_test test_mse``.
    """
    from pyspark.sql import types as T

    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    g = (
        df.groupBy(
            F.col(band_col).alias("band"),
            F.col(bucket_col).alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("sx"),
            F.sum(y).alias("sy"),
            F.sum(dec38(x) * x).alias("sxx"),
            F.sum(dec38(x) * y).alias("sxy"),
            F.sum(dec38(y) * y).alias("syy"),
        )
        .collect()
    )
    cells = {
        (r["band"], r["bucket"]): tuple(
            int(r[k]) for k in ("n", "sx", "sy", "sxx", "sxy", "syy")
        )
        for r in g
    }

    def msum(pred):
        t = [0] * 6
        for key, m in cells.items():
            if pred(*key):
                t = [a + b for a, b in zip(t, m)]
        return t

    # float() on each exact-integer operand BEFORE every division /
    # multiplication mirrors SQL's ::DOUBLE casts operand-by-operand —
    # Python's int/int true division rounds differently on >2^53 inputs
    def fit(m, lam):
        n, sx, sy, sxx, sxy, _ = m
        num = n * sxy - sx * sy
        den = (n * sxx - sx * sx) + lam * n * n
        if den == 0:
            return None
        b1 = float(num) / float(den)
        b0 = (float(sy) - b1 * float(sx)) / float(n)
        return b0, b1

    def sse(m, b0, b1):
        n, sx, sy, sxx, sxy, syy = m
        return (
            float(syy)
            - 2.0 * b0 * float(sy)
            - 2.0 * b1 * float(sxy)
            + float(n) * b0 * b0
            + 2.0 * b0 * b1 * float(sx)
            + b1 * b1 * float(sxx)
        )

    import math

    # DuckDB round(x) = half away from zero on the identical double
    def q_int(v):
        return int(math.floor(abs(v) + 0.5)) * (-1 if v < 0 else 1)

    rows = []
    for o in range(n_bands - 1):
        best = None
        for lam in lambdas:
            total = 0
            ok = True
            for i in range(n_buckets):
                tr = msum(lambda b, k: b <= o and k != i)
                va = msum(lambda b, k: b <= o and k == i)
                if tr[0] == 0 or va[0] == 0:
                    ok = False
                    break
                f = fit(tr, lam)
                if f is None:
                    ok = False
                    break
                total = total + q_int(sse(va, f[0], f[1]))
            if ok and (best is None or total < best[0]):
                best = (total, lam)
        if best is None:
            continue
        inner_units, lam_star = best
        inner_sse = float(inner_units)
        full = msum(lambda b, k: b <= o)
        te = msum(lambda b, k: b == o + 1)
        f = fit(full, lam_star)
        if f is None or te[0] == 0:
            continue
        t_sse = sse(te, f[0], f[1])
        rows.append(
            (
                o,
                int(lam_star),
                inner_sse,
                te[0],
                t_sse / float(te[0]),
            )
        )
    schema = T.StructType(
        [
            T.StructField("outer_fold", T.IntegerType()),
            T.StructField("lambda_star", T.IntegerType()),
            T.StructField("inner_sse", T.DoubleType()),
            T.StructField("n_test", T.LongType()),
            T.StructField("test_mse", T.DoubleType()),
        ]
    )
    return df.sparkSession.createDataFrame(rows, schema)
