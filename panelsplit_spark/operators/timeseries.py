"""Time-series relational operators: gap-based sessionization and
backward as-of joins.

Both generalize patterns in the reference: the snapshot rule "use the
last vintage at-or-before the fold's cutoff"
(reference cross_validation.py:172-193) is exactly a backward as-of
join, and session assignment is the event-time analog of contiguous
period grouping.

Scale notes:
- ``sessionize`` costs one shuffle (hash-partition on the entity keys)
  plus an in-partition sort — the minimum for any per-entity ordered
  computation. No Python; stays in whole-stage codegen.
- ``asof_join`` uses the union + ordered-window merge formulation
  instead of an inequality join: an inequality (theta) join degenerates
  to broadcast-nested-loop at scale, while the merge is one shuffle on
  the key and one sort — the same cost as a sort-merge join, and skew
  on hot keys can be handled by AQE like any other shuffle.
"""

from __future__ import annotations

from typing import Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

__all__ = [
    "sessionize",
    "asof_join",
    "resample_daily_ffill",
    "group_trend_ols",
    "dec38",
    "exact_comoment",
    "exact_line",
    "group_ols2",
    "acf_lags",
    "gap_detect",
    "rolling_distinct",
    "markov_transitions",
    "interpolate_linear",
    "session_paths",
    "cusum_detect",
]


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap_seconds: float,
    order_cols: Sequence[str] = (),
    session_col: str = "session_id",
) -> DataFrame:
    """Assign a per-entity session index: a new session starts when the
    time since the previous event exceeds ``gap_seconds``.

    Classic lag + cumulative-sum formulation — the batch equivalent of a
    streaming session window (``F.session_window`` covers the
    aggregate-only case; this keeps every row, so downstream per-row
    features can use the session id).
    """
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys).orderBy(
        F.col(ts_col), *[F.col(c) for c in order_cols]
    )
    t = F.unix_micros(F.col(ts_col))
    gap_us = int(round(gap_seconds * 1_000_000))
    is_new = F.when(
        (t - F.lag(t, 1).over(w)).isNull()
        | ((t - F.lag(t, 1).over(w)) > F.lit(gap_us)),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn(
        session_col,
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    right_order: Sequence[str] = (),
    tolerance_seconds: Optional[float] = None,
    prefix: str = "asof_",
    direction: str = "backward",
) -> DataFrame:
    """Inclusive as-of join. ``direction="backward"`` (default): for
    each left row, attach the right row with the greatest ``right_ts``
    ≤ ``left_ts`` within the same ``on`` key (ties among right rows
    broken by ``right_order``, last wins; the reference's vintage rule
    at cross_validation.py:186 is the ``right_ts == snapshot`` special
    case). ``direction="forward"``: the right row with the SMALLEST
    ``right_ts`` ≥ ``left_ts`` (first tie wins) — the "next quote/
    event" lookup. ``direction="nearest"``: whichever of the two is
    closer in time, ties to backward — composed from one backward and
    one forward pass (two keyed window shuffles on the same key, so the
    second exchange reuses the first's partitioning) with the gap
    comparison in exact integer microseconds.

    Implementation: tag and union both sides, sort each key partition by
    time with right rows ordered before left rows at equal timestamps
    (inclusive semantics), and carry the latest right-row payload
    forward with ``last(..., ignorenulls=True)``. The payload travels as
    ONE struct column, so right columns that are legitimately NULL in a
    matched row stay NULL instead of falling back to an older row.
    """
    if direction == "nearest":
        kw = dict(
            on=on, left_ts=left_ts, right_ts=right_ts,
            right_cols=right_cols, right_order=right_order,
            tolerance_seconds=tolerance_seconds,
        )
        b = asof_join(left, right, prefix="__b_", direction="backward", **kw)
        bf = asof_join(b, right, prefix="__f_", direction="forward", **kw)
        lt = F.unix_micros(F.col(left_ts))
        bgap = lt - F.unix_micros(F.col(f"__b_{right_ts}"))
        fgap = F.unix_micros(F.col(f"__f_{right_ts}")) - lt
        use_b = F.col(f"__b_{right_ts}").isNotNull() & (
            F.col(f"__f_{right_ts}").isNull() | (bgap <= fgap)
        )
        out = bf
        for c in [right_ts, *right_cols]:
            out = out.withColumn(
                f"{prefix}{c}",
                F.when(use_b, F.col(f"__b_{c}")).otherwise(
                    F.col(f"__f_{c}")
                ),
            )
        return out.drop(
            *[f"__b_{c}" for c in [right_ts, *right_cols]],
            *[f"__f_{c}" for c in [right_ts, *right_cols]],
        )

    payload = F.struct(
        F.col(right_ts).alias("__rts"),
        *[F.col(c).alias(c) for c in right_cols],
    )
    r = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__is_left"),
        payload.alias("__r"),
        *[F.col(c).alias(f"__ro_{i}") for i, c in enumerate(right_order)],
    )
    l = left.withColumn("__t", F.col(left_ts)).withColumn(
        "__is_left", F.lit(1)
    )
    u = l.unionByName(r, allowMissingColumns=True)

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward: {direction}")
    fwd = direction == "forward"
    # At equal timestamps the right row must stay eligible (inclusive):
    # backward looks over [start..current] so rights sort BEFORE lefts;
    # forward looks over [current..end] so lefts sort BEFORE rights.
    order: list[Column] = [
        F.col("__t").asc(),
        F.col("__is_left").desc() if fwd else F.col("__is_left").asc(),
    ]
    for i in range(len(right_order)):
        order.append(F.col(f"__ro_{i}").asc_nulls_last())
    wb = Window.partitionBy(*[F.col(c) for c in on]).orderBy(*order)
    if fwd:
        w = wb.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        matched = F.first("__r", ignorenulls=True).over(w)
    else:
        w = wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        matched = F.last("__r", ignorenulls=True).over(w)
    if tolerance_seconds is not None:
        tol_us = int(round(tolerance_seconds * 1_000_000))
        gap = F.unix_micros(F.col("__t")) - F.unix_micros(matched["__rts"])
        within = (-gap if fwd else gap) <= F.lit(tol_us)
        matched = F.when(within, matched)

    out = (
        u.withColumn("__m", matched)
        .where(F.col("__is_left") == 1)
        .withColumn(f"{prefix}{right_ts}", F.col("__m.__rts"))
    )
    for c in right_cols:
        out = out.withColumn(f"{prefix}{c}", F.col("__m")[c])
    drop = (
        ["__t", "__is_left", "__r", "__m"]
        + [f"__ro_{i}" for i in range(len(right_order))]
    )
    return out.drop(*drop)


def resample_daily_ffill(
    df: DataFrame,
    entity_col: str,
    date_col: str,
    value_cols: Sequence[str],
    gap_col: str = "is_gap",
) -> DataFrame:
    """Densify a panel to a per-entity DAILY grid and forward-fill —
    the gap-filling step every panel-CV pipeline needs before lags or
    rolling windows make sense (a missing day would silently shift a
    lag-1 feature to lag-k; the reference's pandas users reach for
    ``DataFrame.resample().ffill()`` — this is the distributed form).

    Input: one row per (entity, date, values). Output: one row per
    (entity, calendar day between that entity's min and max date), with
    each value column carried forward across gap days and ``gap_col``
    = 1 on synthesized rows.

    Scale shape: per-entity spans are one grouped aggregate; the grid
    is ``sequence(lo, hi)`` exploded (narrow — generates rows where the
    span row lives); the observed values join back on (entity, day) and
    the fill is ONE pass of ``last(value, ignoreNulls=True)`` over an
    entity-keyed growing window. Everything is keyed by entity — state
    and shuffle volume scale with the grid, never quadratically. The
    whole thing is ANSI-expressible (generate_series + IGNORE NULLS
    window), so it is oracle-gated end to end.
    """
    day = F.to_date(F.col(date_col))
    vals = [F.col(c) for c in value_cols]
    obs = df.select(
        F.col(entity_col).alias("__e"), day.alias("__d"), *vals
    )
    spans = obs.groupBy("__e").agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    grid = spans.select(
        "__e",
        F.explode(
            F.sequence(
                F.col("__lo"), F.col("__hi"), F.expr("interval 1 day")
            )
        ).alias("__d"),
    )
    joined = grid.join(obs, ["__e", "__d"], "left")
    w = (
        Window.partitionBy("__e")
        .orderBy("__d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = [
        F.last(F.col(c), ignorenulls=True).over(w).alias(c)
        for c in value_cols
    ]
    # a synthesized day has EVERY observed column NULL pre-fill; flag it
    # off the first value column (cheap and deterministic)
    gap = (
        F.when(F.col(value_cols[0]).isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias(gap_col)
        if value_cols
        else F.lit(0).alias(gap_col)
    )
    return joined.select(
        F.col("__e").alias(entity_col),
        F.col("__d").alias(date_col),
        gap,
        *filled,
    )


def group_trend_ols(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group simple linear trend (OLS slope + intercept of y on x)
    from exact integer moments — the panel feature engineering staple
    ("is this account's usage rising?") computed at any scale in ONE
    grouped aggregate.

    ``x_col`` and ``y_col`` must already be integer-quantized by the
    caller (e.g. minutes-since-epoch, money in cents): the five moments
    (n, Σx, Σy, Σxy, Σx²) then accumulate as exact LONGs —
    partition-order-independent and engine-exact — and the closed-form
    slope/intercept are single rounded double expressions over them.
    Degenerate groups (one point, or zero x-variance) emit NULL slope/
    intercept rather than dividing by zero.

    100 TB shape: one shuffle keyed by ``group_cols`` with map-side
    partial aggregation; no windows, no second pass, nothing driver-
    side. Overflow bound: |Σx²| < 2^63 requires n·max(x)² < 9.2e18 —
    quantize x coarsely enough (minutes, not micros) for the panel
    length at hand; the caller owns that contract.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    det = g["n"] * g["sxx"] - g["sx"] * g["sx"]
    slope = (
        (g["n"] * g["sxy"] - g["sx"] * g["sy"]).cast("double")
        / det.cast("double")
    )
    return g.select(
        *group_cols,
        "n",
        F.when(det != 0, F.round(slope, round_to)).alias("slope"),
        F.when(
            det != 0,
            F.round(
                (g["sy"].cast("double") - slope * g["sx"].cast("double"))
                / g["n"].cast("double"),
                round_to,
            ),
        ).alias("intercept"),
    )


def gap_detect(
    df: DataFrame,
    entity_col: str,
    date_col: str,
    min_gap_days: int = 1,
) -> DataFrame:
    """Per-entity calendar-gap inventory: every maximal run of missing
    days strictly inside an entity's [min, max] observation span —
    the panel-completeness audit a CV pipeline runs BEFORE trusting
    lag features (the reference's pandas users eyeball
    ``asfreq('D').isna()``; this is the distributed form, and it
    reports runs, not a row per missing day).

    Output: one row per gap — ``entity gap_start gap_end gap_days``
    (dates rendered as strings, run length an exact integer).

    Scale shape: observed days are reduced to a distinct (entity, day)
    set (one map-side-combinable shuffle); runs come from the classic
    islands trick — ``epoch_day − row_number`` is constant within a
    consecutive run of OBSERVED days, so a gap is the space between
    one observed day and the entity's next observed day, read off a
    single ``lead`` window partitioned by entity. No calendar grid is
    ever materialized: cost scales with observed rows, not with span
    length × entities (a 10-year-span entity with 3 observations costs
    3 rows, unlike the explode-the-grid approach).
    """
    obs = (
        df.select(
            F.col(entity_col).alias("__e"),
            F.to_date(F.col(date_col)).alias("__d"),
        )
        .distinct()
    )
    w = Window.partitionBy("__e").orderBy("__d")
    nxt = obs.withColumn("__next", F.lead("__d").over(w))
    return (
        nxt.where(
            F.col("__next").isNotNull()
            & (F.datediff("__next", "__d") > F.lit(min_gap_days))
        )
        .select(
            F.col("__e").alias(entity_col),
            F.date_format(F.date_add("__d", 1), "yyyy-MM-dd").alias(
                "gap_start"
            ),
            F.date_format(
                F.date_sub("__next", 1), "yyyy-MM-dd"
            ).alias("gap_end"),
            (F.datediff("__next", "__d") - F.lit(1)).cast("long").alias(
                "gap_days"
            ),
        )
    )


def rolling_distinct(
    df: DataFrame,
    entity_col: str,
    date_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Trailing ``window_days``-day DISTINCT-entity count per calendar
    day — the "7-day active users" metric, which no window function can
    express (COUNT(DISTINCT) OVER a range frame is unsupported
    everywhere) and the naive per-day self-join makes quadratic.

    Formulation: each distinct (entity, day) observation CONTRIBUTES to
    the ``window_days`` target days [day, day + w); a second distinct
    collapses multi-day actives within one window; one count per target
    day finishes. The explode factor is the window length — bounded and
    tiny — so cost is O(w · distinct observations), never O(days ×
    rows). Target days are clipped to the observed [min, max] span (a
    trailing window that starts before the data would undercount).

    Output: ``day n_active`` (day as yyyy-MM-dd string). SPARSE: a
    day inside the span with zero active entities in its trailing
    window emits NO row (join a calendar grid downstream if a dense
    axis is needed) — with window ≥ the longest per-entity gap this
    never happens.

    Scale: two map-side-combinable distincts + one count, all keyed;
    the single-row span bound is the only broadcast.
    """
    pairs = df.select(
        F.col(entity_col).alias("__e"),
        F.to_date(F.col(date_col)).alias("__d"),
    ).distinct()
    bounds = pairs.agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    contrib = (
        pairs.select(
            "__e",
            F.explode(
                F.sequence(F.lit(0), F.lit(int(window_days) - 1))
            ).alias("__off"),
            "__d",
        )
        .select("__e", F.date_add("__d", F.col("__off")).alias("__td"))
        .distinct()
    )
    return (
        contrib.crossJoin(F.broadcast(bounds))
        .where(F.col("__td").between(F.col("__lo"), F.col("__hi")))
        .groupBy("__td")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            F.date_format("__td", "yyyy-MM-dd").alias("day"), "n_active"
        )
        .orderBy("day")
    )


def markov_transitions(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    state_col: str,
    gap_seconds: float = 1800.0,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """First-order Markov transition census over per-entity event
    sequences: sessionize (same gap rule as :func:`sessionize`), pair
    each event with its predecessor WITHIN the session via one lag
    window, and count (src → dst) transitions; ``p`` is the row
    probability as ONE unrounded double division of exact counts.

    Output: ``src dst cnt src_total p`` ordered by (src, dst).

    Scale: the session + lag windows share one entity-keyed shuffle
    (same partitioning, Catalyst reuses the exchange); the transition
    count is a map-side-combinable groupBy over the tiny state×state
    domain, and the src-marginal join is domain-sized. Nothing after
    the first shuffle scales with rows.
    """
    sess = sessionize(
        df, key_cols, ts_col, gap_seconds, order_cols=order_cols
    )
    keys = [F.col(k) for k in key_cols]
    w = Window.partitionBy(*keys, F.col("session_id")).orderBy(
        F.col(ts_col), *[F.col(c) for c in order_cols]
    )
    trans = (
        sess.withColumn("__src", F.lag(F.col(state_col), 1).over(w))
        .where(F.col("__src").isNotNull())
        .groupBy(
            F.col("__src").alias("src"),
            F.col(state_col).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = trans.groupBy("src").agg(F.sum("cnt").alias("src_total"))
    return (
        trans.join(totals, "src")
        .select(
            "src",
            "dst",
            "cnt",
            "src_total",
            (F.col("cnt") / F.col("src_total")).alias("p"),
        )
        .orderBy("src", "dst")
    )


def interpolate_linear(
    df: DataFrame,
    entity_col: str,
    date_col: str,
    value_col: str,
) -> DataFrame:
    """Densify a per-entity daily panel and LINEARLY interpolate an
    integer value column across gaps — the step up from
    :func:`resample_daily_ffill` when the quantity is a level (price,
    balance) rather than a state. Endpoints carry the nearest observed
    value (no extrapolation beyond the span by construction).

    Interpolation arithmetic is pinned for cross-engine replay:
    ``v = prev + (next − prev)·(d − d0) / (d1 − d0)`` where every
    operand left of the division is an exact integer, the division is
    the ONE double division, and the trailing addition of an exact
    integer is deterministic IEEE. Observed days emit their exact value
    (the formula degenerates to prev, but observed rows bypass it
    entirely so no float ever touches them).

    Output: ``entity day value is_interp`` (day yyyy-MM-dd, value
    DOUBLE — exact-integer-valued on observed days).

    Scale: per-entity spans from one aggregate; the grid explodes
    narrowly; ONE entity-keyed window pass computes both bracketing
    observations (last/first ignorenulls); everything stays keyed by
    entity.
    """
    day = F.to_date(F.col(date_col))
    obs = df.select(
        F.col(entity_col).alias("__e"),
        day.alias("__d"),
        F.col(value_col).cast("long").alias("__v"),
    )
    spans = obs.groupBy("__e").agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    grid = spans.select(
        "__e",
        F.explode(
            F.sequence(
                F.col("__lo"), F.col("__hi"), F.expr("interval 1 day")
            )
        ).alias("__d"),
    )
    j = grid.join(obs, ["__e", "__d"], "left")
    wb = (
        Window.partitionBy("__e")
        .orderBy("__d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("__e")
        .orderBy("__d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    prev_v = F.last("__v", ignorenulls=True).over(wb)
    prev_d = F.last(
        F.when(F.col("__v").isNotNull(), F.col("__d")), ignorenulls=True
    ).over(wb)
    next_v = F.first("__v", ignorenulls=True).over(wf)
    next_d = F.first(
        F.when(F.col("__v").isNotNull(), F.col("__d")), ignorenulls=True
    ).over(wf)
    interp = (
        F.when(F.col("__v").isNotNull(), F.col("__v").cast("double"))
        .when(next_v.isNull(), prev_v.cast("double"))
        .when(prev_v.isNull(), next_v.cast("double"))
        .otherwise(
            prev_v
            + (
                (next_v - prev_v) * F.datediff(F.col("__d"), prev_d)
            ).cast("double")
            / F.datediff(next_d, prev_d).cast("double")
        )
    )
    return j.select(
        F.col("__e").alias(entity_col),
        F.date_format("__d", "yyyy-MM-dd").alias("day"),
        interp.alias("value"),
        F.when(F.col("__v").isNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_interp"),
    )


def session_paths(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    state_col: str,
    gap_seconds: float = 1800.0,
    order_cols: Sequence[str] = (),
    max_steps: int = 8,
    top_k: int = 20,
) -> DataFrame:
    """Top-k most common session paths: sessionize, render each
    session's first ``max_steps`` events as one ``a>b>c`` string, count
    paths, keep the k most frequent (ties broken by path string — the
    deterministic-rank discipline every top-k in this repo follows).

    The path rendering is collection-order-proof: events collect as
    (ts, order_cols…, state) structs and ``array_sort`` orders them by
    the struct's natural (ts-first) order before the slice+join — so
    the same string emerges under any partitioning.

    Scale: one entity-keyed shuffle for the session window, one
    (entity, session)-keyed aggregate whose state is capped by
    ``max_steps`` only after sort (cap the input first if sessions are
    unbounded), one path-keyed count, one tiny top-k sort.

    Output: ``path n_sessions rnk`` (rnk 1..top_k).
    """
    from pyspark.sql import Window as W

    sess = sessionize(
        df, key_cols, ts_col, gap_seconds, order_cols=order_cols
    )
    keys = [F.col(k) for k in key_cols]
    ev = F.struct(
        F.col(ts_col).alias("t"),
        *[F.col(c).alias(f"o{i}") for i, c in enumerate(order_cols)],
        F.col(state_col).alias("s"),
    )
    paths = (
        sess.groupBy(*keys, F.col("session_id"))
        .agg(F.array_sort(F.collect_list(ev)).alias("evs"))
        .select(
            F.array_join(
                F.slice(F.expr("transform(evs, e -> e.s)"), 1, max_steps),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    w = W.orderBy(F.col("n_sessions").desc(), F.col("path").asc())
    return (
        paths.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= top_k)
        .orderBy("rnk")
    )


def cusum_detect(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    value_col: str,
    drift_k: int,
    threshold_h: int,
) -> DataFrame:
    """One-sided CUSUM change-point signal per entity over an integer
    value series: ``S_t = max(0, S_{t-1} + (x_t − k))`` flags a
    sustained upward shift when ``S_t > h``. The sequential recurrence
    LOOKS unparallelizable, but the classic prefix identity
    ``S_t = C_t − min_{j ≤ t} C_j`` (C = running sum of x − k) turns it
    into two stacked windows over the same entity-keyed sort — pure
    whole-stage-codegen window algebra, exact integers end to end, one
    shuffle.

    Output: per (entity, order) row — ``cusum`` (exact BIGINT) and
    ``alarm`` (0/1 for cusum > h).
    """
    w = Window.partitionBy(F.col(entity_col)).orderBy(F.col(order_col))
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    c = F.sum(F.col(value_col).cast("long") - F.lit(int(drift_k))).over(wc)
    out = df.withColumn("__c", c)
    # the identity needs the virtual C_0 = 0 term: S_t = C_t - min(0,
    # min_{j<=t} C_j). Without the 0, a series that starts ABOVE the
    # drift (prefix sums never dip <= 0) has its first excursion
    # silently zeroed and early alarms are missed.
    run_min = F.least(F.min(F.col("__c")).over(wc), F.lit(0).cast("long"))
    return (
        out.withColumn(
            "cusum",
            F.greatest(F.col("__c") - run_min, F.lit(0).cast("long")),
        )
        .withColumn(
            "alarm",
            (F.col("cusum") > F.lit(int(threshold_h))).cast("int"),
        )
        .drop("__c")
    )


def dec38(c: Column) -> Column:
    """``c`` cast to decimal(38,0), the type exact integer products and
    moments are carried in (the DuckDB oracles' HUGEINT)."""
    return c.cast("decimal(38,0)")


def exact_comoment(n: str, a: str, b: str, ab: str) -> Column:
    """The centered co-moment ``n·Σab − Σa·Σb`` of the integer moment
    columns named ``n``, ``a`` (Σa), ``b`` (Σb) and ``ab`` (Σab),
    multiplied in decimal(38,0) — the oracle's ``CAST(.. AS HUGEINT)``
    twin — so n·Σab never wraps at 2⁶³. With ``a = b`` and ``ab = Σa²``
    it is n² times the variance. Overflow contract: the products must
    stay below 10³⁸."""
    return dec38(F.col(n)) * F.col(ab) - dec38(F.col(a)) * F.col(b)


def exact_line(
    n: str, sx: str, sy: str, sxx: str, sxy: str
) -> Tuple[Column, Column]:
    """``(b1, b0)`` of the one-regressor OLS line y = b0 + b1·x from the
    exact integer moment columns n, Σx, Σy, Σx², Σxy: the slope is ONE
    double division of two exact co-moments and the intercept the
    fixed-order double expression ``(Σy − b1·Σx) / n``, so every engine
    that follows the same cast order (the DuckDB oracles do) gets the
    same bits. A constant x gives a 0/0 slope; callers that can see one
    guard it on ``exact_comoment(n, sx, sx, sxx) != 0``."""
    cxy = exact_comoment(n, sx, sy, sxy)
    cxx = exact_comoment(n, sx, sx, sxx)
    b1 = cxy.cast("double") / cxx.cast("double")
    b0 = (
        F.col(sy).cast("double") - b1 * F.col(sx).cast("double")
    ) / F.col(n).cast("double")
    return b1, b0


def group_ols2(
    df: DataFrame,
    group_cols: Sequence[str],
    x1_col: str,
    x2_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group TWO-regressor OLS (y on x1, x2 + intercept) solved in
    closed form from exact integer moments — the multivariate step up
    from :func:`group_trend_ols` ("price on quantity AND discount, per
    return flag"), still ONE grouped aggregate, no iteration, no driver
    math.

    All inputs must be integer-quantized by the caller. The eight
    moments (n, Σx1, Σx2, Σy, Σx1², Σx1x2, Σx2², Σx1y, Σx2y) accumulate
    as exact LONGs; the centered normal-equation entries

        A11 = n·Σx1² − (Σx1)²   A12 = n·Σx1x2 − Σx1·Σx2
        A22 = n·Σx2² − (Σx2)²   B1  = n·Σx1y − Σx1·Σy
                                B2  = n·Σx2y − Σx2·Σy

    and Cramer's rule det = A11·A22 − A12², b1 = (A22·B1 − A12·B2)/det,
    b2 = (A11·B2 − A12·B1)/det are computed in decimal(38,0) (the
    oracle's HUGEINT twin), so each slope is ONE double division of two
    exact integers and the intercept b0 = (Σy − b1·Σx1 − b2·Σx2)/n is a
    fixed-order double expression — bit-identical cross-engine.

    Overflow contract (caller owns the quantization): the deepest
    product is A22·B1 ≈ n²·max(x2)²·n·max(x1)·max(y); with n ≤ 10^7,
    x1 ≤ 10^2, x2 ≤ 10^2, y ≤ 10^6 that is ≤ ~10^37 < 10^38. Quantize
    coarsely (dollars / percent, not micros / ppm) for the group sizes
    at hand.

    100 TB shape: one shuffle keyed by ``group_cols`` with map-side
    partial aggregation — identical cost to a grouped count. Singular
    groups (det = 0: collinear or constant regressors) emit NULL
    coefficients instead of dividing by zero.
    """
    x1 = F.col(x1_col).cast("long")
    x2 = F.col(x2_col).cast("long")
    y = F.col(y_col).cast("long")
    g = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).alias("sx1"),
        F.sum(x2).alias("sx2"),
        F.sum(y).alias("sy"),
        F.sum(x1 * x1).alias("sx1x1"),
        F.sum(x1 * x2).alias("sx1x2"),
        F.sum(x2 * x2).alias("sx2x2"),
        F.sum(x1 * y).alias("sx1y"),
        F.sum(x2 * y).alias("sx2y"),
    )
    a11 = exact_comoment("n", "sx1", "sx1", "sx1x1")
    a12 = exact_comoment("n", "sx1", "sx2", "sx1x2")
    a22 = exact_comoment("n", "sx2", "sx2", "sx2x2")
    b1n = exact_comoment("n", "sx1", "sy", "sx1y")
    b2n = exact_comoment("n", "sx2", "sy", "sx2y")
    det = a11 * a22 - a12 * a12
    beta1 = (a22 * b1n - a12 * b2n).cast("double") / det.cast("double")
    beta2 = (a11 * b2n - a12 * b1n).cast("double") / det.cast("double")
    beta0 = (
        F.col("sy").cast("double")
        - beta1 * F.col("sx1").cast("double")
        - beta2 * F.col("sx2").cast("double")
    ) / F.col("n").cast("double")
    nz = det != dec38(F.lit(0))
    return g.select(
        *group_cols,
        "n",
        "sx1",
        "sx2",
        "sy",
        F.when(nz, beta1).alias("b1"),
        F.when(nz, beta2).alias("b2"),
        F.when(nz, beta0).alias("b0"),
    )


def acf_lags(
    df: DataFrame,
    day_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function of a daily integer-quantized series at
    calendar lags 1..``max_lag`` — the seasonality screen ("is revenue
    weekly-periodic?") computed without ever materializing a dense
    calendar: pairs match by an explicit date equi-join, so gap days
    simply drop out of a lag's pair set (n_pairs reports it) instead of
    silently sliding positions the way a row-offset window would.

    The series aggregates once (day → Σvalue as exact longs, one
    shuffle); the tiny lag axis (max_lag rows) broadcast-joins against
    it and each lag's Pearson correlation comes from exact
    decimal(38,0) moments with the fixed-order double form

        corr = (nΣxy − ΣxΣy) / (sqrt(nΣx² − (Σx)²)·sqrt(nΣy² − (Σy)²))

    — sqrt is exact cross-engine, so the whole statistic is
    engine-bit-identical. 100 TB shape: everything after the daily
    rollup operates on |days| rows; the rollup itself is a grouped sum
    with map-side partials.
    """
    daily = df.groupBy(F.col(day_col).alias("day")).agg(
        F.sum(F.col(value_col).cast("long")).alias("v")
    ).localCheckpoint(eager=True)
    # |days| rows consumed by both join sides — checkpoint so the input
    # scan+rollup runs once, not once per side
    lags = daily.sparkSession.range(1, int(max_lag) + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    left = daily.select("day", F.col("v").alias("x"))
    # expand the lagged side BEFORE the join so the match key is
    # computable from one side alone — this keeps it a hash equi-join
    # on the day key (lag travels with the right rows), never a
    # nested-loop over the day x day space
    right = (
        daily.select(F.col("day").alias("rday"), F.col("v").alias("y"))
        .crossJoin(F.broadcast(lags))
        .select(
            F.expr("date_add(rday, lag)").alias("mday"), "lag", "y"
        )
    )
    pairs = left.join(right, F.col("day") == F.col("mday"))
    g = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec38(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec38(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec38(F.col("y")) * F.col("y")).alias("syy"),
    )
    num = exact_comoment("n_pairs", "sx", "sy", "sxy")
    vx = exact_comoment("n_pairs", "sx", "sx", "sxx")
    vy = exact_comoment("n_pairs", "sy", "sy", "syy")
    corr = num.cast("double") / (
        F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))
    )
    nz = (vx > dec38(F.lit(0))) & (vy > dec38(F.lit(0)))
    return g.select(
        "lag", "n_pairs", F.when(nz, corr).alias("acf")
    ).orderBy("lag")
