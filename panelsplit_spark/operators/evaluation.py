"""Distributed, exact-arithmetic model-evaluation statistics.

Reference parity note: the reference library (4Freye/panelsplit) scores
folds through sklearn metric callables on driver-side arrays
(`panelsplit/cross_validation.py` fold loops); this module provides the
statistics that CANNOT be computed by handing each executor a metric
callable — global rank statistics — as pure DataFrame plans.

Scale design (100 TB): ROC-AUC is the Mann-Whitney U statistic, a
function of the SUM OF RANKS of the positive class. Ranks over 10^12
rows cannot come from a global sort; instead the input is first reduced
to its distinct-score table (one map-side-combinable groupBy), and the
cumulative rank prefix is computed hierarchically: per-bin offsets from
a domain-sized window, intra-bin prefixes from a window PARTITIONED BY
bin — no unpartitioned window ever sees more than the bin count or one
bin's distinct scores. Tie handling is exact: with ties the average
rank is (rank_min + rank_max)/2, so 2·Σranks = Σ pos·(rank_min +
rank_max) stays an exact integer; the AUC is ONE unrounded double
division of exact integers (bit-identical IEEE across engines).
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window, functions as F

from .timeseries import dec38, exact_comoment, exact_line

__all__ = ["auc_ranksum", "calibration_bins", "mutual_info_cells",
           "chi2_2x2", "weighted_median", "cuped_adjust",
           "split_conformal_ols", "learning_curve_ols", "power_mde",
           "mde_moments", "mde_from_moments", "diff_in_diff"]


def auc_ranksum(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bin_width: Optional[int] = None,
) -> DataFrame:
    """Exact ROC-AUC of an integer score against a 0/1 label via the
    rank-sum (Mann-Whitney) identity — no sort, no sklearn, no driver
    arrays.

    AUC = (2·R⁺ − n₊(n₊+1)) / (2·n₊·n₋) where R⁺ is the sum of
    (average, tie-adjusted) ranks of positives under ascending score.
    With ties avg_rank = (rank_min + rank_max)/2, so the numerator
    ``u2 = Σ pos·(rank_min + rank_max) − n₊(n₊+1)`` is an exact BIGINT
    (decimal(38,0)-accumulated, guard-cast: u2 ≤ 2·n₊·n₋ overflows
    int64 only past ~4.3e9 rows of each class — then the raise tells
    you to sample).

    ``score_col`` must be integral (quantize doubles to cents/nanos
    first — the project-wide convention). ``bin_width`` turns the rank
    prefix hierarchical: per-``score div bin_width`` offsets from a
    bin-count-sized window plus intra-bin partitioned windows. Omit it
    only when the distinct-score domain is known small.

    Single-row output: ``n n_pos n_neg u2 auc``.
    """
    s = df.select(
        F.col(score_col).cast("long").alias("s"),
        F.col(label_col).cast("long").alias("y"),
    )
    g = s.groupBy("s").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    if bin_width is not None:
        g = g.withColumn("b", F.expr(f"s div {bin_width}"))
        bins = g.groupBy("b").agg(F.sum("cnt").alias("bcnt"))
        wb = Window.orderBy("b").rowsBetween(
            Window.unboundedPreceding, -1
        )
        offs = bins.withColumn(
            "off", F.coalesce(F.sum("bcnt").over(wb), F.lit(0))
        ).select("b", "off")
        wi = Window.partitionBy("b").orderBy("s").rowsBetween(
            Window.unboundedPreceding, 0
        )
        g = g.join(offs, "b").withColumn(
            "cum", F.col("off") + F.sum("cnt").over(wi)
        )
    else:
        w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
        g = g.withColumn("cum", F.sum("cnt").over(w))
    # rank_min + rank_max over the tie group = (cum-cnt+1) + cum
    agg = g.agg(
        F.sum("cnt").alias("n"),
        F.sum("pos").alias("n_pos"),
        # cast a factor to decimal BEFORE the multiply: pos·2·cum can
        # exceed int64 for a hot tie group long before the sum does
        F.sum(
            F.col("pos").cast("decimal(38,0)")
            * (F.lit(2) * F.col("cum") - F.col("cnt") + 1).cast(
                "decimal(38,0)"
            )
        ).alias("_r2"),
    )
    i64max = F.lit(str(2**63 - 1)).cast("decimal(38,0)")
    return agg.select(
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        # n_pos cast to decimal BEFORE the multiply: the int64 product
        # wraps at n_pos ~ 3e9, corrupting the very guard meant to
        # catch that scale
        F.when(
            F.abs(
                F.col("_r2")
                - F.col("n_pos").cast("decimal(38,0)")
                * (F.col("n_pos") + 1).cast("decimal(38,0)")
            )
            <= i64max,
            (
                F.col("_r2")
                - F.col("n_pos").cast("decimal(38,0)")
                * (F.col("n_pos") + 1).cast("decimal(38,0)")
            ).cast("long"),
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "auc_ranksum: u2 overflows BIGINT — more than ~4.3e9 "
                    "rows per class; evaluate on a hash sample"
                )
            )
        )
        .alias("u2"),
    ).select(
        "n",
        "n_pos",
        "n_neg",
        "u2",
        (
            F.col("u2")
            / (F.lit(2) * F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


def calibration_bins(
    df: DataFrame,
    pred_bp_col: str,
    label_col: str,
    bin_width_bp: int = 500,
) -> DataFrame:
    """Reliability-diagram bins for a predicted probability expressed
    in integer BASIS POINTS (0..10000): per bin, row count, positive
    count, the exact integer sum of predictions, and the two rates a
    calibration plot draws — each ONE unrounded double division of
    exact integers (mean predicted = sum_bp/(n·10000), empirical =
    n_pos/n), so the output is hash-stable cross-engine.

    The integer-bp contract is the point: averaging float probabilities
    is partial-order dependent; averaging their exact bp quantizations
    is not. Quantize upstream (the project-wide convention).

    Scale: one map-side-combinable groupBy on ``pred_bp div width`` —
    ≤ 10000/width groups regardless of input size.
    """
    b = F.expr(f"{pred_bp_col} div {bin_width_bp}").alias("bin")
    return (
        df.groupBy(b)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col(label_col).cast("long")).alias("n_pos"),
            F.sum(F.col(pred_bp_col).cast("long")).alias("sum_pred_bp"),
        )
        .select(
            "bin",
            "n",
            "n_pos",
            "sum_pred_bp",
            (F.col("sum_pred_bp") / (F.col("n") * F.lit(10_000))).alias(
                "pred_rate"
            ),
            (F.col("n_pos") / F.col("n")).alias("pos_rate"),
        )
        .orderBy("bin")
    )


def mutual_info_cells(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-cell mutual-information contributions between two
    categorical columns: for each (x, y) cell, the exact joint and
    marginal counts plus ``term_nano`` = round(c_xy·ln(c_xy·n/(c_x·c_y))
    ·1e9) — an exact integer whose sum over cells is n·MI(x;y)·1e9.
    The feature-screening statistic (information gain) with the
    project's transcendental discipline: the ln argument is ONE double
    division of exact integer products, and the result is quantized to
    nano units BEFORE any summation so ulp noise cannot reorder a sum.

    Scale: three map-side-combinable aggregates (joint, two marginals)
    + two equi-joins of cell-sized tables against marginal-sized
    tables; the single-row total is the only broadcast. State scales
    with distinct cells, never rows. Integer-overflow bound: c_xy·n and
    c_x·c_y must stay below 2^63 (n < ~3e9 — screen on a hash sample
    beyond).
    """
    s = df.select(F.col(x_col).alias("x"), F.col(y_col).alias("y"))
    joint = s.groupBy("x", "y").agg(F.count(F.lit(1)).alias("c_xy"))
    mx = s.groupBy("x").agg(F.count(F.lit(1)).alias("c_x"))
    my = s.groupBy("y").agg(F.count(F.lit(1)).alias("c_y"))
    tot = s.agg(F.count(F.lit(1)).alias("n"))
    return (
        joint.join(mx, "x")
        .join(my, "y")
        .crossJoin(F.broadcast(tot))
        .select(
            "x",
            "y",
            "c_xy",
            "c_x",
            "c_y",
            "n",
            F.round(
                F.col("c_xy")
                * F.log(
                    (F.col("c_xy") * F.col("n"))
                    / (F.col("c_x") * F.col("c_y"))
                )
                * F.lit(1_000_000_000)
            )
            .cast("long")
            .alias("term_nano"),
        )
        .orderBy("x", "y")
    )


def chi2_2x2(
    df: DataFrame,
    arm_col: str,
    success_col: str,
) -> DataFrame:
    """Pearson chi-square for a 2×2 A/B contingency table (identical to
    the two-proportion z² test): exact integer cell counts from one
    map-side-combinable aggregate, then
    ``chi2 = N·(ad − bc)² / ((a+b)(c+d)(a+c)(b+d))`` evaluated in
    DOUBLE with a PINNED operation order — every operand is an exact
    integer below 2^53 at any realistic experiment size, and because
    IEEE arithmetic is deterministic given identical operand order, the
    double result is bit-identical across engines (the SQL oracle
    spells the same expression tree).

    ``arm_col`` boolean/0-1 (False/0 = arm A), ``success_col``
    boolean/0-1. Single-row output:
    ``n_a x_a n_b x_b chi2`` (counts BIGINT, chi2 DOUBLE).
    """
    t = df.select(
        F.col(arm_col).cast("long").alias("g"),
        F.col(success_col).cast("long").alias("s"),
    ).agg(
        F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("g") == 0, F.col("s")).otherwise(0)).alias(
            "x_a"
        ),
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("g") == 1, F.col("s")).otherwise(0)).alias(
            "x_b"
        ),
    )
    # a=x_a b=n_a-x_a c=x_b d=n_b-x_b; all casts to double BEFORE any
    # multiply so no intermediate ever exceeds int64 — the expression
    # tree below is mirrored token-for-token in the SQL oracle
    det = (
        "(CAST(x_a AS DOUBLE) * CAST(n_b - x_b AS DOUBLE)"
        " - CAST(x_b AS DOUBLE) * CAST(n_a - x_a AS DOUBLE))"
    )
    chi2 = F.expr(
        f"(CAST(n_a + n_b AS DOUBLE) * {det} * {det})"
        " / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)"
        " * CAST(x_a + x_b AS DOUBLE)"
        " * CAST(n_a + n_b - x_a - x_b AS DOUBLE))"
    )
    return t.select("n_a", "x_a", "n_b", "x_b", chi2.alias("chi2"))


def weighted_median(
    df: DataFrame,
    group_cols,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Exact per-group weighted (lower) median of an integer value
    column under integer weights: the smallest value whose cumulative
    weight reaches half the group total (2·cum ≥ total — the
    deterministic lower-median rule, pinned because engines disagree on
    interpolation). Robust location estimate for skewed/heavy-tailed
    features where the weighted mean is hostage to outliers.

    Output: one row per group — ``<group_cols> median total_weight``.

    Scale: ties fuse in a map-side-combinable (group, value) aggregate
    first, so the windows run over the DISTINCT-value table (bounded by
    the value domain per group, not row count); cumulative and total
    windows share one group-keyed exchange.
    """
    groups = (
        [group_cols] if isinstance(group_cols, str) else list(group_cols)
    )
    gcols = [F.col(c) for c in groups]
    fused = df.groupBy(*gcols, F.col(value_col).alias("__v")).agg(
        F.sum(F.col(weight_col).cast("long")).alias("__w")
    )
    wc = (
        Window.partitionBy(*gcols)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy(*gcols)
    c = fused.withColumn("__cum", F.sum("__w").over(wc)).withColumn(
        "__tot", F.sum("__w").over(wt)
    )
    wr = Window.partitionBy(*gcols).orderBy("__v")
    return (
        c.where(F.lit(2) * F.col("__cum") >= F.col("__tot"))
        .withColumn("__rk", F.row_number().over(wr))
        .where(F.col("__rk") == 1)
        .select(
            *gcols,
            F.col("__v").alias("median"),
            F.col("__tot").alias("total_weight"),
        )
    )


def cuped_adjust(
    df: DataFrame,
    x_col: str,
    y_col: str,
    treated_col: str,
) -> DataFrame:
    """CUPED-adjusted treatment-effect estimate (Deng et al. 2013,
    "Improving the Sensitivity of Online Controlled Experiments" —
    public paper, method only): shrink the A/B metric difference with a
    pre-experiment covariate,

        θ = cov(x, y) / var(x)
        Δ_cuped = (ȳ_t − ȳ_c) − θ·(x̄_t − x̄_c)

    with the variance-reduction factor ρ² = corr(x, y)² reported
    alongside (the fraction of metric variance the covariate removes).

    ``x_col``/``y_col`` must be integer-quantized (e.g. per-user cents)
    and ``treated_col`` a 0/1 integer. Everything reduces to ONE
    aggregate row of exact integer moments — overall n/Σx/Σy and
    decimal(38,0) Σx²/Σxy/Σy², plus per-arm filtered n/Σx/Σy — and the
    outputs are fixed-order double algebra over them, bit-identical
    cross-engine. No joins, no windows, no second scan: the whole
    estimator is one map-side-combinable aggregation, the cheapest
    possible 100 TB shape.

    Output: one row ``n_t n_c theta diff_raw diff_cuped rho2``
    (θ and ρ² NULL when var(x) = 0).
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    t = F.col(treated_col).cast("int") == F.lit(1)
    g = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(dec38(x) * x).alias("sxx"),
        F.sum(dec38(x) * y).alias("sxy"),
        F.sum(dec38(y) * y).alias("syy"),
        F.count(F.when(t, F.lit(1))).alias("n_t"),
        F.sum(F.when(t, x).otherwise(F.lit(0))).alias("sx_t"),
        F.sum(F.when(t, y).otherwise(F.lit(0))).alias("sy_t"),
    )
    cxy = exact_comoment("n", "sx", "sy", "sxy")
    vx = exact_comoment("n", "sx", "sx", "sxx")
    vy = exact_comoment("n", "sy", "sy", "syy")
    theta = cxy.cast("double") / vx.cast("double")
    n_c = F.col("n") - F.col("n_t")
    mean = lambda s, cnt: s.cast("double") / cnt.cast("double")  # noqa: E731
    ybar_t = mean(F.col("sy_t"), F.col("n_t"))
    ybar_c = mean(F.col("sy") - F.col("sy_t"), n_c)
    xbar_t = mean(F.col("sx_t"), F.col("n_t"))
    xbar_c = mean(F.col("sx") - F.col("sx_t"), n_c)
    diff_raw = ybar_t - ybar_c
    rho2 = (
        cxy.cast("double")
        * cxy.cast("double")
        / (vx.cast("double") * vy.cast("double"))
    )
    nz = vx != dec38(F.lit(0))
    return g.select(
        F.col("n_t"),
        n_c.alias("n_c"),
        F.when(nz, theta).alias("theta"),
        diff_raw.alias("diff_raw"),
        F.when(nz, diff_raw - theta * (xbar_t - xbar_c)).alias(
            "diff_cuped"
        ),
        F.when(nz, rho2).alias("rho2"),
    )


def split_conformal_ols(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    alpha_bp: int = 1000,
    salt: str = "conformal",
) -> DataFrame:
    """Split-conformal prediction intervals around a closed-form OLS fit
    (Papadopoulos et al. 2002 / Lei et al. 2018 inductive conformal —
    public papers, method only), with the finite-sample coverage
    guarantee VERIFIED on a held-out test split in the same plan.

    Content-hash splits (train < 50%, calibration < 75%, test rest —
    stable under reruns/appends like every split in sampling.py). The
    OLS fit is five exact integer moments + Cramer algebra; calibration
    nonconformity scores |y − ŷ| quantize to MILLI-units after the
    (engine-identical) double prediction, so the conformal quantile

        q̂ = the ⌈(n_cal+1)·(1−α)⌉-th smallest score

    is an exact order statistic of integers (no interpolation
    ambiguity; an order statistic's VALUE is tie-order invariant, so
    the rank sort carries the bare integer scores — round 9 dropped
    the id tiebreak column, which only chose WHICH tied row supplied
    the same score and cost a wider single-partition sort), and test
    coverage is an exact integer comparison ``score ≤ q̂`` counted and
    divided ONCE.

    100 TB shape: the only sort is the calibration split's single
    integer column (a hash-chosen fraction of the data); the fit and
    the coverage check are one aggregate each; the 1-row fit and q̂
    frames broadcast into the scans (whitelisted single-row
    broadcasts). Output: one row ``n_train n_cal n_test k qhat_mu
    n_covered coverage``.
    """
    from .sampling import _BP, hash_bucket

    b = hash_bucket(F.col(id_col), salt)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(x_col).cast("long").alias("__x"),
        F.col(y_col).cast("long").alias("__y"),
        b.alias("__b"),
    )
    train = base.where(F.col("__b") < _BP // 2)
    cal = base.where(
        (F.col("__b") >= _BP // 2) & (F.col("__b") < 3 * _BP // 4)
    )
    test = base.where(F.col("__b") >= 3 * _BP // 4)
    x, y = F.col("__x"), F.col("__y")
    fit = train.agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(dec38(x) * x).alias("sxx"),
        F.sum(dec38(x) * y).alias("sxy"),
    )
    b1, b0 = exact_line("n_train", "sx", "sy", "sxx", "sxy")
    # the 1-row fit is consumed by BOTH the calibration and the test
    # scoring scans (and the final n_train projection): checkpoint it so
    # the train scan+aggregate runs once, not once per consumer
    fit = fit.select(
        "n_train", b1.alias("b1"), b0.alias("b0")
    ).localCheckpoint(eager=True)

    def scored(split: DataFrame) -> DataFrame:
        # only the integer score leaves the scan: neither the quantile
        # (tie-order-invariant order statistic) nor the coverage count
        # reads the row id, and dropping it keeps the global rank sort
        # to bare longs (measured 5.9 -> 2.5 s at sf1 for the sort)
        sc = F.round(
            F.abs(
                F.col("__y").cast("double")
                - (F.col("b0") + F.col("b1") * F.col("__x").cast("double"))
            )
            * F.lit(1000.0)
        ).cast("long")
        return split.crossJoin(F.broadcast(fit)).select(
            sc.alias("score_mu")
        )

    cal_sc = scored(cal)
    keep_bp = _BP - int(alpha_bp)
    # rank and calibration count come out of ONE pass over the scores:
    # row_number over the sort order plus count over the whole frame,
    # so the calibration scan is never replicated for a separate count
    rk = Window.orderBy(F.col("score_mu").asc())
    whole = Window.partitionBy()
    ranked = cal_sc.select(
        "score_mu",
        F.row_number().over(rk).cast("long").alias("__rk"),
        F.count(F.lit(1)).over(whole).alias("n_cal"),
    )
    # integer ceil((n_cal+1)·(1-α)); clamped so tiny calibration sets
    # degrade to the max score instead of an out-of-range rank
    k_expr = F.least(
        F.floor(
            ((F.col("n_cal") + F.lit(1)) * F.lit(keep_bp)
             + F.lit(_BP - 1))
            / F.lit(_BP)
        ).cast("long"),
        F.col("n_cal"),
    )
    qhat = (
        ranked.withColumn("k", k_expr)
        .where(F.col("__rk") == F.col("k"))
        .select("n_cal", "k", F.col("score_mu").alias("qhat_mu"))
    )
    cov = (
        scored(test)
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.first("n_cal").alias("n_cal"),
            F.first("k").alias("k"),
            F.first("qhat_mu").alias("qhat_mu"),
            F.sum(
                (F.col("score_mu") <= F.col("qhat_mu")).cast("long")
            ).alias("n_covered"),
        )
    )
    return cov.crossJoin(F.broadcast(fit.select("n_train"))).select(
        "n_train",
        "n_cal",
        "n_test",
        "k",
        "qhat_mu",
        "n_covered",
        (
            F.col("n_covered").cast("double")
            / F.col("n_test").cast("double")
        ).alias("coverage"),
    )


def learning_curve_ols(
    df: DataFrame,
    id_col: str,
    x_col: str,
    y_col: str,
    cuts_bp: Sequence[int] = (1000, 2000, 4000, 8000),
    test_lo_bp: int = 9000,
    salt: str = "lcurve",
) -> DataFrame:
    """Learning curve of a closed-form OLS fit — held-out MSE at nested
    training fractions — from ONE scan, because sufficient statistics
    make the whole curve algebra: per hash-band integer moments roll up
    cumulatively (band k's train set = bands 1..k, nested by
    construction), and the test MSE expands in the TEST split's own
    moments,

        SSE = Σy² − 2b₀Σy − 2b₁Σxy + n·b₀² + 2b₀b₁Σx + b₁²Σx²

    so no per-row residual pass exists for ANY fraction. This is the
    pattern that makes "how much data do we need?" a free by-product of
    one aggregation at 100 TB instead of len(cuts) model refits.

    Moments Σx², Σxy, Σy² accumulate as decimal(38,0); every β and the
    MSE are fixed-order double algebra over exact integers, so the
    DuckDB oracle replays them bit-for-bit. Output: one row per cut —
    ``cut_bp n_train slope intercept test_mse``.
    """
    from .sampling import hash_bucket

    b = hash_bucket(F.col(id_col), salt)
    cuts = sorted(int(c) for c in cuts_bp)
    band = F.lit(None).cast("int")
    for i, c in enumerate(reversed(cuts)):
        band = F.when(b < c, F.lit(len(cuts) - i)).otherwise(band)
    band = F.when(b >= int(test_lo_bp), F.lit(0)).otherwise(band)
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    base = df.select(
        band.alias("__band"), x.alias("__x"), y.alias("__y")
    ).where(F.col("__band").isNotNull())
    xx, yy = F.col("__x"), F.col("__y")
    g = base.groupBy("__band").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xx).alias("sx"),
        F.sum(yy).alias("sy"),
        F.sum(dec38(xx) * xx).alias("sxx"),
        F.sum(dec38(xx) * yy).alias("sxy"),
        F.sum(dec38(yy) * yy).alias("syy"),
    ).localCheckpoint(eager=True)
    # ≤ len(cuts)+1 rows; checkpointing stops the full input scan from
    # replaying once for the cumulative train frame and once for the
    # test-moment frame
    wcum = (
        Window.orderBy("__band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tr = (
        g.where(F.col("__band") > 0)
        .select(
            "__band",
            F.sum("n").over(wcum).alias("n"),
            F.sum("sx").over(wcum).alias("sx"),
            F.sum("sy").over(wcum).alias("sy"),
            F.sum("sxx").over(wcum).alias("sxx"),
            F.sum("sxy").over(wcum).alias("sxy"),
        )
    )
    te = g.where(F.col("__band") == 0).select(
        F.col("n").alias("tn"),
        F.col("sx").alias("tsx"),
        F.col("sy").alias("tsy"),
        F.col("sxx").alias("tsxx"),
        F.col("sxy").alias("tsxy"),
        F.col("syy").alias("tsyy"),
    )
    b1, b0 = exact_line("n", "sx", "sy", "sxx", "sxy")
    joined = tr.crossJoin(F.broadcast(te)).select(
        "__band", "n", b1.alias("b1"), b0.alias("b0"),
        "tn", "tsx", "tsy", "tsxx", "tsxy", "tsyy",
    )
    sse = (
        F.col("tsyy").cast("double")
        - F.lit(2.0) * F.col("b0") * F.col("tsy").cast("double")
        - F.lit(2.0) * F.col("b1") * F.col("tsxy").cast("double")
        + F.col("tn").cast("double") * F.col("b0") * F.col("b0")
        + F.lit(2.0) * F.col("b0") * F.col("b1")
        * F.col("tsx").cast("double")
        + F.col("b1") * F.col("b1") * F.col("tsxx").cast("double")
    )
    cut_map = F.array(*[F.lit(c) for c in cuts])
    return joined.select(
        F.element_at(cut_map, F.col("__band").cast("int")).alias("cut_bp"),
        F.col("n").alias("n_train"),
        F.col("b1").alias("slope"),
        F.col("b0").alias("intercept"),
        (sse / F.col("tn").cast("double")).alias("test_mse"),
    )


#: two-sided z for alpha = 0.05 and one-sided z for power = 0.80 —
#: Python float literals interpolated identically into both engines
Z_ALPHA_975 = 1.959963984540054
Z_POWER_80 = 0.8416212335729143


def power_mde(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    treated_col: str,
    z_alpha: float = Z_ALPHA_975,
    z_power: float = Z_POWER_80,
) -> DataFrame:
    """Per-group minimum detectable effect of a two-arm experiment at
    the CURRENT sample sizes — the pre-registration question ("how
    small a lift could this segment's traffic even see?") answered
    from the same one-pass filtered aggregate as :func:`cuped_adjust`:

        MDE = (z_{1−α/2} + z_{power}) · sqrt(s²·(1/n_t + 1/n_c))

    with s² the group's sample variance from exact integer moments
    ((nΣy² − (Σy)²)/(n(n−1)), decimal(38,0) products) and the z
    quantiles fixed double literals, so the whole expression is
    fixed-order double algebra over exact integers — engine-exact.
    Output per group: ``n_t n_c mean_units var_units mde_abs mde_rel``
    (NULLs when an arm is empty or the variance is undefined).

    100 TB shape: one grouped aggregate with map-side partials; no
    joins, no windows, no second scan.
    """
    g = mde_moments(df, group_cols, value_col, treated_col)
    return mde_from_moments(g, group_cols, z_alpha=z_alpha,
                            z_power=z_power)


def mde_moments(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    treated_col: str,
) -> DataFrame:
    """The per-group sufficient statistics behind :func:`power_mde` —
    (n, Σy, Σy², n_t), all exact integers. Split out because the frame
    is MERGEABLE: element-wise sums fold two moment frames into the
    moments of the union, which is what the streaming gate exploits."""
    y = F.col(value_col).cast("long")
    t = F.col(treated_col).cast("int") == F.lit(1)
    return df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(y).alias("sy"),
        F.sum(dec38(y) * y).alias("syy"),
        F.count(F.when(t, F.lit(1))).alias("n_t"),
    )


def mde_from_moments(
    g: DataFrame,
    group_cols: Sequence[str],
    z_alpha: float = Z_ALPHA_975,
    z_power: float = Z_POWER_80,
) -> DataFrame:
    """Finish :func:`power_mde` from a (merged) moment frame."""
    n_c = F.col("n") - F.col("n_t")
    var_num = exact_comoment("n", "sy", "sy", "syy")
    var = var_num.cast("double") / (
        F.col("n").cast("double") * (F.col("n").cast("double") - F.lit(1.0))
    )
    mean = F.col("sy").cast("double") / F.col("n").cast("double")
    zsum = float(z_alpha) + float(z_power)
    mde = F.lit(zsum) * F.sqrt(
        var
        * (
            F.lit(1.0) / F.col("n_t").cast("double")
            + F.lit(1.0) / n_c.cast("double")
        )
    )
    ok = (F.col("n_t") > 0) & (n_c > 0) & (F.col("n") > 1)
    return g.select(
        *group_cols,
        "n_t",
        n_c.alias("n_c"),
        mean.alias("mean_units"),
        F.when(F.col("n") > 1, var).alias("var_units"),
        F.when(ok, mde).alias("mde_abs"),
        F.when(ok & (F.col("sy") != 0), mde / mean).alias("mde_rel"),
    )


def diff_in_diff(
    df: DataFrame,
    y_col: str,
    treated_col: str,
    post_col: str,
) -> DataFrame:
    """Difference-in-differences estimator (canonical 2×2 design):

        DiD = (ȳ_treated,post − ȳ_treated,pre)
            − (ȳ_control,post − ȳ_control,pre)

    over an integer-quantized outcome with 0/1 treated/post flags —
    the quasi-experimental lift estimate when randomization isn't
    available and a parallel-trends control exists. Like
    :func:`cuped_adjust`, the whole estimator is ONE filtered-
    aggregate row (four cell sums + counts, all exact integers) and
    the output is fixed-order double algebra over them — no joins, no
    windows, engine-bit-identical.

    Output: one row — the four cell means, their per-arm deltas, and
    ``did`` (NULL when any cell is empty).
    """
    y = F.col(y_col).cast("long")
    t = F.col(treated_col).cast("int") == F.lit(1)
    p = F.col(post_col).cast("int") == F.lit(1)

    def cell(cond, name):
        return [
            F.count(F.when(cond, F.lit(1))).alias(f"n_{name}"),
            F.sum(F.when(cond, y).otherwise(F.lit(0))).alias(
                f"s_{name}"
            ),
        ]

    g = df.agg(
        *cell(t & p, "tp"),
        *cell(t & ~p, "t0"),
        *cell(~t & p, "cp"),
        *cell(~t & ~p, "c0"),
    )
    mean = lambda nm: (  # noqa: E731
        F.col(f"s_{nm}").cast("double")
        / F.col(f"n_{nm}").cast("double")
    )
    ok = (
        (F.col("n_tp") > 0)
        & (F.col("n_t0") > 0)
        & (F.col("n_cp") > 0)
        & (F.col("n_c0") > 0)
    )
    d_t = mean("tp") - mean("t0")
    d_c = mean("cp") - mean("c0")
    return g.select(
        "n_tp", "n_t0", "n_cp", "n_c0",
        F.when(ok, mean("tp")).alias("mean_treated_post"),
        F.when(ok, mean("t0")).alias("mean_treated_pre"),
        F.when(ok, mean("cp")).alias("mean_control_post"),
        F.when(ok, mean("c0")).alias("mean_control_pre"),
        F.when(ok, d_t).alias("delta_treated"),
        F.when(ok, d_c).alias("delta_control"),
        F.when(ok, d_t - d_c).alias("did"),
    )
