"""Round-6 part B (part 15): forecast-inference and stationarity
diagnostics for the panel CV — the statistics a walk-forward backtest
owes its user beyond raw MSE: Diebold-Mariano (is A better than B or
is the gap noise), Ljung-Box (multi-lag residual memory), Murphy skill
score, pinball/quantile loss, MASE, Mincer-Zarnowitz efficiency,
Bates-Granger combination, CSCV probability of backtest overfitting,
purge/embargo ablation, adversarial-validation AUC, LOCO importance,
coefficient stability, and the stationarity pre-flight (Dickey-Fuller,
KPSS, Lo-MacKinlay variance ratio, PACF).

Round 7 split the original 36-query part-15 file by family: corpus
science / pipeline queries live in queries_round6c, the four streaming
gates in queries_round6d. Pure move — names, plans, and oracle SQL are
byte-identical.

Same contract as every part file: each Spark query is paired with a
byte-hash-equal DuckDB oracle over the same parquet; every statistic
is carried as exact integers (cents/nano quantization, HUGEINT /
decimal(38,0) cross moments) up to a final double division so the
cross-engine hash and the {4,64} shuffle-partition invariance hold by
construction.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .operators.cross_validation import fold_line_fit
from .operators.timeseries import (
    dec38 as _dec,
    exact_comoment,
    exact_line,
)
from .sources.tables import load_table

# ======================================================================
# shared: exact-integer per-fold OLS on the events CV
# (operators.cross_validation.fold_line_fit, as in cv_residual_dw)
# ======================================================================


def _events_oof_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(fold_id, period, event_id, yc, e_ols, e_mean): integer-cents
    OOF residuals of the per-fold OLS (value_cents ~ hod) AND the
    per-fold train-mean baseline, from one train-moment aggregate."""
    from .queries import _events_cv

    ev, ps = _events_cv(spark, sf_dir)
    evq = ev.select(
        "event_id",
        "period",
        F.col("hod").cast("long").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    )
    asg = ps.assign(evq)
    coef = fold_line_fit(asg, "fold_id", "x", "yc")
    return (
        asg.where(F.col("role") == "test")
        .join(F.broadcast(coef), "fold_id")
        .select(
            F.col("fold_id").cast("long").alias("fold_id"),
            "period",
            "event_id",
            "yc",
            F.round(
                F.col("yc").cast("double")
                - (F.col("b0") + F.col("b1") * F.col("x").cast("double"))
            )
            .cast("long")
            .alias("e_ols"),
            F.round(F.col("yc").cast("double") - F.col("ybar"))
            .cast("long")
            .alias("e_mean"),
        )
    )


def _sql_events_oof_residuals() -> str:
    """DuckDB twin of _events_oof_residuals: CTE fragment ending in
    ``res(fold_id, period, event_id, yc, e_ols, e_mean)``."""
    from .queries import _FOLD_CTE

    return f"""{_FOLD_CTE},
t AS (
  SELECT a.fold_id, a.role, e.event_id, e.period,
         CAST(e.hod AS BIGINT) AS x,
         CAST(round(e.value * 100) AS BIGINT) AS yc
  FROM assign a JOIN ev e ON e.period = a.period
),
fit AS (
  SELECT fold_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(yc) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * yc) AS BIGINT) AS sxy
  FROM t WHERE role = 'train' GROUP BY fold_id
),
base AS (
  SELECT fold_id,
         (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)::DOUBLE
           / (CAST(n AS HUGEINT) * sxx
              - CAST(sx AS HUGEINT) * sx)::DOUBLE AS b1,
         n, sx, sy
  FROM fit
),
coef AS (
  SELECT fold_id, b1,
         (sy::DOUBLE - b1 * sx::DOUBLE) / n::DOUBLE AS b0,
         sy::DOUBLE / n::DOUBLE AS ybar
  FROM base
),
res AS (
  SELECT t.fold_id, t.period, t.event_id, t.yc,
         CAST(round(t.yc::DOUBLE
                    - (c.b0 + c.b1 * CAST(t.x AS DOUBLE)))
              AS BIGINT) AS e_ols,
         CAST(round(t.yc::DOUBLE - c.ybar) AS BIGINT) AS e_mean
  FROM t JOIN coef c USING (fold_id) WHERE t.role = 'test'
)"""

# ======================================================================
# cv_dm_test — Diebold-Mariano forecast-accuracy comparison
# ======================================================================


def q_cv_dm_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diebold-Mariano test (Diebold & Mariano 1995, lag-0 variance
    variant — the loss differential of ONE-period-style forecasts) per
    fold: is the per-fold OLS *significantly* more accurate than the
    train-mean baseline under squared loss, or is the MSE gap noise?
    d_t = e_ols² − e_mean² per OOF row (exact integers from the
    cents-quantized residual pair), DM = d̄ / √(s²_d / n) with the
    sample variance — three exact integer sums (n, Σd, Σd²) per fold,
    one subtraction, two double divisions. Negative DM ⇒ the model
    beats the baseline. Shape: one fold-keyed aggregate over the OOF
    frame; no extra shuffle beyond the residual window family."""
    res = _events_oof_residuals(spark, sf_dir)
    dd = res.select(
        "fold_id",
        (
            F.col("e_ols") * F.col("e_ols")
            - F.col("e_mean") * F.col("e_mean")
        ).alias("d"),
    )
    agg = dd.groupBy("fold_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("sum_d"),
        F.sum(_dec(F.col("d")) * F.col("d")).cast("decimal(38,0)").alias(
            "_sdd"
        ),
    )
    dbar = F.col("sum_d").cast("double") / F.col("n").cast("double")
    # s²_d = (Σd² − (Σd)²/n) / (n−1), carried as exact integers until
    # the single ::DOUBLE conversion of the numerator
    var_num = exact_comoment("n", "sum_d", "sum_d", "_sdd").cast("double")
    var_d = var_num / (
        F.col("n").cast("double")
        * F.col("n").cast("double")
        * (F.col("n") - 1).cast("double")
    )
    return agg.select(
        "fold_id",
        "n",
        "sum_d",
        dbar.alias("dbar"),
        (dbar / F.sqrt(var_d / F.col("n").cast("double"))).alias("dm_stat"),
    ).orderBy("fold_id")


def _sql_dm_test() -> str:
    return f"""
WITH {_sql_events_oof_residuals()},
dd AS (
  SELECT fold_id, e_ols * e_ols - e_mean * e_mean AS d FROM res
),
agg AS (
  SELECT fold_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(d) AS BIGINT) AS sum_d,
         sum(CAST(d AS HUGEINT) * d) AS sdd
  FROM dd GROUP BY fold_id
)
SELECT fold_id, n, sum_d,
       sum_d::DOUBLE / n::DOUBLE AS dbar,
       (sum_d::DOUBLE / n::DOUBLE)
         / sqrt(((CAST(n AS HUGEINT) * sdd
                  - CAST(sum_d AS HUGEINT) * sum_d)::DOUBLE
                 / (n::DOUBLE * n::DOUBLE * (n - 1)::DOUBLE))
                / n::DOUBLE) AS dm_stat
FROM agg ORDER BY fold_id
"""

# ======================================================================
# cv_ljungbox — Ljung-Box portmanteau test on OOF residuals
# ======================================================================

_LB_LAGS = 3


def q_cv_ljungbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic (Ljung & Box 1978) on each
    fold's OOF residuals in time order, lags 1..3 — the multi-lag
    generalization of cv_residual_dw: Q = n(n+2) Σ_k ρ̂_k²/(n−k) with
    ρ̂_k = Σ e_t e_{t−k} / Σ e_t². Each lag cross-sum and the energy
    Σe² are exact integers (one fold-keyed window, three lag columns,
    one aggregate); each ρ̂_k² is ONE division of two exact integer
    products, so Q is reproducible bit-for-bit across engines and
    partitionings. Large Q ⇒ the fold model left serial structure in
    the residuals that a purged/embargoed split or richer features
    should absorb."""
    res = _events_oof_residuals(spark, sf_dir)
    w = Window.partitionBy("fold_id").orderBy("period", "event_id")
    lagd = res.select(
        "fold_id",
        "e_ols",
        *[
            F.lag("e_ols", k).over(w).alias(f"e{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    agg = lagd.groupBy("fold_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("e_ols") * F.col("e_ols")).alias("se2"),
        *[
            F.sum(F.col("e_ols") * F.col(f"e{k}")).alias(f"c{k}")
            for k in range(1, _LB_LAGS + 1)
        ],
    )
    nf = F.col("n").cast("double")
    den = (_dec(F.col("se2")) * F.col("se2")).cast("double")

    def rho2(k: int):
        return (_dec(F.col(f"c{k}")) * F.col(f"c{k}")).cast("double") / den

    q_lb = (
        nf
        * (nf + F.lit(2.0))
        * (
            rho2(1) / (nf - F.lit(1.0))
            + rho2(2) / (nf - F.lit(2.0))
            + rho2(3) / (nf - F.lit(3.0))
        )
    )
    return agg.select(
        "fold_id", "n", "se2", "c1", "c2", "c3", q_lb.alias("q_lb")
    ).orderBy("fold_id")


def _sql_ljungbox() -> str:
    return f"""
WITH {_sql_events_oof_residuals()},
lagd AS (
  SELECT fold_id, e_ols,
         lag(e_ols, 1) OVER w AS e1,
         lag(e_ols, 2) OVER w AS e2,
         lag(e_ols, 3) OVER w AS e3
  FROM res
  WINDOW w AS (PARTITION BY fold_id ORDER BY period, event_id)
),
agg AS (
  SELECT fold_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(e_ols * e_ols) AS BIGINT) AS se2,
         CAST(sum(e_ols * e1) AS BIGINT) AS c1,
         CAST(sum(e_ols * e2) AS BIGINT) AS c2,
         CAST(sum(e_ols * e3) AS BIGINT) AS c3
  FROM lagd GROUP BY fold_id
)
SELECT fold_id, n, se2, c1, c2, c3,
       n::DOUBLE * (n::DOUBLE + 2.0)
         * ((CAST(c1 AS HUGEINT) * c1)::DOUBLE
              / (CAST(se2 AS HUGEINT) * se2)::DOUBLE
              / (n::DOUBLE - 1.0)
            + (CAST(c2 AS HUGEINT) * c2)::DOUBLE
              / (CAST(se2 AS HUGEINT) * se2)::DOUBLE
              / (n::DOUBLE - 2.0)
            + (CAST(c3 AS HUGEINT) * c3)::DOUBLE
              / (CAST(se2 AS HUGEINT) * se2)::DOUBLE
              / (n::DOUBLE - 3.0)) AS q_lb
FROM agg ORDER BY fold_id
"""

# ======================================================================
# cv_skill_score — Murphy MSE skill score vs the naive baseline
# ======================================================================


def q_cv_skill_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy mean-squared-error skill score (Murphy 1988) per monthly
    lineitem fold: SS = 1 − SSE_model / SSE_naive, model = the per-fold
    exact-moment OLS (extendedprice ~ quantity), naive = the fold's
    train mean — the 'does the regression beat a constant' audit that a
    raw per-fold MSE table (cv_li_fold_mse) cannot answer by itself.
    Both SSEs are exact integer sums of rounded-dollar residuals; the
    skill is one double division. SS ≤ 0 flags a fold where the model
    is worse than predicting the mean."""
    from .queries_data import _li_cv

    li, ps = _li_cv(spark, sf_dir)
    liq = li.select(
        "period",
        F.round("l_quantity").cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    asg = ps.assign(liq)
    coef = fold_line_fit(asg, "fold_id", "x", "y")
    scored = (
        asg.where(F.col("role") == "test")
        .join(F.broadcast(coef), "fold_id")
        .select(
            F.col("fold_id").cast("long").alias("fold_id"),
            F.round(
                F.col("y").cast("double")
                - (F.col("b0") + F.col("b1") * F.col("x").cast("double"))
            )
            .cast("long")
            .alias("em"),
            F.round(F.col("y").cast("double") - F.col("ybar"))
            .cast("long")
            .alias("en"),
        )
    )
    agg = scored.groupBy("fold_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("em") * F.col("em")).alias("sse_model"),
        F.sum(F.col("en") * F.col("en")).alias("sse_naive"),
    )
    return agg.select(
        "fold_id",
        "n",
        "sse_model",
        "sse_naive",
        (
            F.lit(1.0)
            - F.col("sse_model").cast("double")
            / F.col("sse_naive").cast("double")
        ).alias("skill"),
    ).orderBy("fold_id")


def _sql_skill_score() -> str:
    from .queries_data import _LI_FOLD_CTE

    return f"""
WITH {_LI_FOLD_CTE},
t AS (
  SELECT a.fold_id, a.role,
         CAST(round(l.l_quantity) AS BIGINT) AS x,
         CAST(round(l.l_extendedprice) AS BIGINT) AS y
  FROM assign a JOIN li l ON l.period = a.period
),
fit AS (
  SELECT fold_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM t WHERE role = 'train' GROUP BY fold_id
),
base AS (
  SELECT fold_id,
         (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)::DOUBLE
           / (CAST(n AS HUGEINT) * sxx
              - CAST(sx AS HUGEINT) * sx)::DOUBLE AS b1,
         n, sx, sy
  FROM fit
),
coef AS (
  SELECT fold_id, b1,
         (sy::DOUBLE - b1 * sx::DOUBLE) / n::DOUBLE AS b0,
         sy::DOUBLE / n::DOUBLE AS ybar
  FROM base
),
scored AS (
  SELECT t.fold_id,
         CAST(round(t.y::DOUBLE
                    - (c.b0 + c.b1 * CAST(t.x AS DOUBLE)))
              AS BIGINT) AS em,
         CAST(round(t.y::DOUBLE - c.ybar) AS BIGINT) AS en
  FROM t JOIN coef c USING (fold_id) WHERE t.role = 'test'
)
SELECT fold_id, count(*) AS n,
       CAST(sum(em * em) AS BIGINT) AS sse_model,
       CAST(sum(en * en) AS BIGINT) AS sse_naive,
       1.0 - CAST(sum(em * em) AS BIGINT)::DOUBLE
               / CAST(sum(en * en) AS BIGINT)::DOUBLE AS skill
FROM scored GROUP BY fold_id ORDER BY fold_id
"""

# ======================================================================
# cv_quantile_loss — pinball loss of exact train-quantile forecasters
# ======================================================================

_QL_TAUS = (1, 2, 3)  # quarters: τ = k/4


def q_cv_quantile_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-forecast CV under pinball loss (Koenker & Bassett
    1978): for each monthly lineitem fold the predictor at τ ∈
    {¼, ½, ¾} is the EXACT train order statistic — the smallest
    y-dollar value whose cumulative count reaches ⌈τ·n⌉ (a cumulative
    window over per-value counts; value-deterministic, so ties can't
    break cross-engine equality) — and the OOF pinball loss is carried
    ×4 so it stays an exact integer: 4·L_τ(y,q) = k·(y−q)⁺ +
    (4−k)·(q−y)⁺ for τ = k/4. The asymmetric-loss audit of a forecast
    distribution: ½ gives the median-absolute family, ¼/¾ expose
    over/under-prediction cost. One per-value aggregate + one
    cumulative window on the train side, one broadcast join on the
    test side."""
    from .queries_data import _li_cv

    li, ps = _li_cv(spark, sf_dir)
    liq = li.select(
        "period",
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    asg = ps.assign(liq)
    tr = asg.where(F.col("role") == "train")
    vc = tr.groupBy("fold_id", "y").agg(F.count(F.lit(1)).alias("c"))
    w = (
        Window.partitionBy("fold_id")
        .orderBy("y")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = Window.partitionBy("fold_id")
    cum = vc.select(
        "fold_id",
        "y",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(wn).alias("n_train"),
    )
    # q_k = min y with cum ≥ ⌈k·n/4⌉ ; ⌈k·n/4⌉ = (k·n + 3) DIV 4
    qs = cum.groupBy("fold_id").agg(
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.expr(f"({k} * n_train + 3) div 4"),
                    F.col("y"),
                )
            ).alias(f"q{k}")
            for k in _QL_TAUS
        ]
    )
    te = asg.where(F.col("role") == "test").join(
        F.broadcast(qs), "fold_id"
    )
    # ONE fold-keyed aggregate computes every tau's loss column (the
    # per-tau union re-ran the assign fan-out + test filter + join once
    # per tau — three lineitem passes for three numbers per fold); the
    # per-tau rows then unpivot from the folds-sized aggregate for free
    aggs = [F.count(F.lit(1)).alias("n_test")]
    for k in _QL_TAUS:
        qk = F.col(f"q{k}")
        over = F.greatest(F.col("y") - qk, F.lit(0))
        under = F.greatest(qk - F.col("y"), F.lit(0))
        aggs.append(F.min(qk).alias(f"__q{k}"))
        aggs.append(
            F.sum(F.lit(k) * over + F.lit(4 - k) * under).alias(
                f"__loss{k}"
            )
        )
    wide = te.groupBy("fold_id").agg(*aggs)
    out = wide.select(
        "fold_id",
        "n_test",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k * 2500).alias("tau_bp"),
                        F.col(f"__q{k}").alias("q"),
                        F.col(f"__loss{k}").alias("loss4_sum"),
                    )
                    for k in _QL_TAUS
                ]
            )
        ).alias("__t"),
    ).select(
        "fold_id",
        F.col("__t.tau_bp").alias("tau_bp"),
        F.col("__t.q").alias("q"),
        "n_test",
        F.col("__t.loss4_sum").alias("loss4_sum"),
    )
    return out.select(
        F.col("fold_id").cast("long").alias("fold_id"),
        F.col("tau_bp").cast("long").alias("tau_bp"),
        "q",
        "n_test",
        "loss4_sum",
        (
            F.col("loss4_sum").cast("double")
            / (F.lit(4.0) * F.col("n_test").cast("double"))
        ).alias("mean_pinball"),
    ).orderBy("fold_id", "tau_bp")


def _sql_quantile_loss() -> str:
    from .queries_data import _LI_FOLD_CTE

    taus = ", ".join(str(k) for k in _QL_TAUS)
    return f"""
WITH {_LI_FOLD_CTE},
t AS (
  SELECT a.fold_id, a.role,
         CAST(round(l.l_extendedprice) AS BIGINT) AS y
  FROM assign a JOIN li l ON l.period = a.period
),
vc AS (
  SELECT fold_id, y, CAST(count(*) AS BIGINT) AS c
  FROM t WHERE role = 'train' GROUP BY fold_id, y
),
cum AS (
  SELECT fold_id, y,
         sum(c) OVER (PARTITION BY fold_id ORDER BY y
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY fold_id) AS n_train
  FROM vc
),
ks AS (SELECT unnest([{taus}]) AS k),
qs AS (
  SELECT fold_id, k,
         min(CASE WHEN cum >= (k * n_train + 3) // 4 THEN y END) AS q
  FROM cum, ks GROUP BY fold_id, k
)
SELECT t.fold_id, CAST(q.k * 2500 AS BIGINT) AS tau_bp,
       min(q.q) AS q,
       count(*) AS n_test,
       CAST(sum(q.k * GREATEST(t.y - q.q, 0)
                + (4 - q.k) * GREATEST(q.q - t.y, 0)) AS BIGINT)
         AS loss4_sum,
       CAST(sum(q.k * GREATEST(t.y - q.q, 0)
                + (4 - q.k) * GREATEST(q.q - t.y, 0)) AS BIGINT)::DOUBLE
         / (4.0 * count(*)::DOUBLE) AS mean_pinball
FROM t JOIN qs q USING (fold_id)
WHERE t.role = 'test'
GROUP BY t.fold_id, q.k
ORDER BY t.fold_id, tau_bp
"""

# ======================================================================
# cv_pbo — probability of backtest overfitting (CSCV)
# ======================================================================

_PBO_G = 8   # day-groups (S in the paper); combos = C(8,4) = 70
_PBO_N = 8   # candidate strategies
_PBO_IS = 4  # in-sample group count per combination


def _pbo_combos():
    from itertools import combinations

    return list(combinations(range(_PBO_G), _PBO_IS))


def q_cv_pbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability of Backtest Overfitting via CSCV (Bailey, Borwein,
    López de Prado & Zhu 2015, public method): split the event panel
    into 8 day-groups, and for each of the C(8,4)=70 in-sample/
    out-of-sample group combinations select the strategy with the best
    IS total return, then record that pick's RANK among all strategies
    out-of-sample. The logit λ = ln(rank/(N+1−rank)) is negative when
    the IS winner lands in the OOS bottom half; PBO = P(λ < 0). The 8
    candidate 'strategies' are content-addressed ±1 signings of event
    value (md5(event_id‖salt_n)) — pure noise by construction, so the
    expected verdict is PBO ≈ ½: selection among noise is overfitting,
    which is exactly what the diagnostic must report.

    Exactness: the per-(group, strategy) return matrix is an exact
    integer cents aggregate — ONE pass over facts producing 8
    conditional sums per group (no explode), stacked to 64 rows;
    every IS/OOS total, argmax, and rank is integer algebra on that
    tiny frame; λ takes ONE division of exact integers, nano-
    quantized. Output: one row per combination —
    ``combo_id best_n is_best oos_best oos_rank lambda_nano``."""
    from .operators.sampling import _BP

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd").alias("period"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    up = (
        ev.select("period")
        .distinct()
        .select(
            "period",
            (
                F.dense_rank().over(Window.orderBy("period")) - 1
            ).cast("long").alias("rk"),
        )
    )
    nper = up.groupBy().agg(F.count(F.lit(1)).alias("n"))
    grp = up.crossJoin(F.broadcast(nper)).select(
        "period", F.expr(f"(rk * {_PBO_G}) div n").alias("g")
    )
    evg = ev.join(F.broadcast(grp), "period")

    def sign(n: int):
        h = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_id").cast("string"),
                            F.lit(f"pbo{n}"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % _BP
        )
        return F.when(h < _BP // 2, F.lit(1)).otherwise(F.lit(-1))

    r_wide = evg.groupBy("g").agg(
        *[
            F.sum(sign(n) * F.col("cents")).alias(f"r{n}")
            for n in range(_PBO_N)
        ]
    )
    stack_expr = "stack({}, {}) as (n, r)".format(
        _PBO_N,
        ", ".join(f"{n}L, r{n}" for n in range(_PBO_N)),
    )
    # the (g, n, r) return matrix is G×N = 64 rows but costs a full
    # events pass with 8 md5-signings per row; it feeds every
    # downstream branch (totals, IS sums, argmax, rank), so without a
    # lineage cut the final plan re-runs that pass once per branch —
    # materialize the matrix once
    r = r_wide.select("g", F.expr(stack_expr)).localCheckpoint(
        eager=True
    )

    combos = spark.createDataFrame(
        [
            (cid, g)
            for cid, combo in enumerate(_pbo_combos())
            for g in combo
        ],
        "combo_id long, g long",
    )
    tot = r.groupBy("n").agg(F.sum("r").alias("r_tot"))
    is_sums = (
        combos.join(r, "g")
        .groupBy("combo_id", "n")
        .agg(F.sum("r").alias("r_is"))
        .join(F.broadcast(tot), "n")
        .select(
            "combo_id",
            "n",
            "r_is",
            (F.col("r_tot") - F.col("r_is")).alias("r_oos"),
        )
    )
    w = Window.partitionBy("combo_id").orderBy(
        F.desc("r_is"), F.asc("n")
    )
    best = (
        is_sums.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") == 1)
        .select(
            "combo_id",
            F.col("n").alias("best_n"),
            F.col("r_is").alias("is_best"),
            F.col("r_oos").alias("oos_best"),
        )
    )
    ranked = (
        is_sums.join(best, "combo_id")
        .groupBy("combo_id", "best_n", "is_best", "oos_best")
        .agg(
            F.sum(
                F.when(
                    (F.col("r_oos") < F.col("oos_best"))
                    | (
                        (F.col("r_oos") == F.col("oos_best"))
                        & (F.col("n") <= F.col("best_n"))
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("oos_rank")
        )
    )
    lam = F.round(
        F.log(
            F.col("oos_rank").cast("double")
            / (F.lit(_PBO_N + 1) - F.col("oos_rank")).cast("double")
        )
        * F.lit(1000000000)
    ).cast("long")
    return ranked.select(
        "combo_id",
        "best_n",
        "is_best",
        "oos_best",
        "oos_rank",
        lam.alias("lambda_nano"),
    ).orderBy("combo_id")


def _sql_pbo() -> str:
    from .operators.sampling import _BP, duckdb_hash_bucket

    combo_vals = ", ".join(
        f"({cid}, {g})"
        for cid, combo in enumerate(_pbo_combos())
        for g in combo
    )
    sign_cols = ", ".join(
        "CAST(sum(CASE WHEN {h} < {half} THEN cents ELSE -cents END)"
        " AS BIGINT) AS r{n}".format(
            h=duckdb_hash_bucket("event_id", f"pbo{n}"),
            half=_BP // 2,
            n=n,
        )
        for n in range(_PBO_N)
    )
    unpiv = " UNION ALL ".join(
        f"SELECT g, CAST({n} AS BIGINT) AS n, r{n} AS r FROM r_wide"
        for n in range(_PBO_N)
    )
    return f"""
WITH ev AS (
  SELECT event_id, strftime(ts, '%Y-%m-%d') AS period,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
up AS (
  SELECT period,
         CAST(dense_rank() OVER (ORDER BY period) - 1 AS BIGINT) AS rk
  FROM (SELECT DISTINCT period FROM ev) t
),
np AS (SELECT count(*) AS n FROM up),
grp AS (
  SELECT up.period, (up.rk * {_PBO_G}) // np.n AS g FROM up, np
),
evg AS (
  SELECT e.event_id, e.cents, grp.g FROM ev e JOIN grp USING (period)
),
r_wide AS (
  SELECT g, {sign_cols} FROM evg GROUP BY g
),
r AS ({unpiv}),
combos AS (
  SELECT CAST(c0 AS BIGINT) AS combo_id, CAST(c1 AS BIGINT) AS g
  FROM (VALUES {combo_vals}) t(c0, c1)
),
tot AS (SELECT n, CAST(sum(r) AS BIGINT) AS r_tot FROM r GROUP BY n),
is_sums AS (
  SELECT c.combo_id, r.n,
         CAST(sum(r.r) AS BIGINT) AS r_is,
         t.r_tot - CAST(sum(r.r) AS BIGINT) AS r_oos
  FROM combos c JOIN r USING (g) JOIN tot t ON t.n = r.n
  GROUP BY c.combo_id, r.n, t.r_tot
),
best AS (
  SELECT combo_id, n AS best_n, r_is AS is_best, r_oos AS oos_best
  FROM (
    SELECT *, row_number() OVER (
      PARTITION BY combo_id ORDER BY r_is DESC, n ASC
    ) AS pos FROM is_sums
  ) WHERE pos = 1
),
ranked AS (
  SELECT s.combo_id, b.best_n, b.is_best, b.oos_best,
         CAST(sum(CASE WHEN s.r_oos < b.oos_best
                       OR (s.r_oos = b.oos_best AND s.n <= b.best_n)
                  THEN 1 ELSE 0 END) AS BIGINT) AS oos_rank
  FROM is_sums s JOIN best b USING (combo_id)
  GROUP BY s.combo_id, b.best_n, b.is_best, b.oos_best
)
SELECT combo_id, best_n, is_best, oos_best, oos_rank,
       CAST(round(ln(oos_rank::DOUBLE
                     / ({_PBO_N + 1} - oos_rank)::DOUBLE)
                  * 1000000000) AS BIGINT) AS lambda_nano
FROM ranked ORDER BY combo_id
"""

# ======================================================================
# cv_mincer_zarnowitz — OOF forecast-efficiency regression
# ======================================================================


def q_cv_mincer_zarnowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mincer-Zarnowitz forecast-efficiency regression (Mincer &
    Zarnowitz 1969): regress realized y on the OOF forecast ŷ per fold
    — an efficient forecast has intercept 0 and slope 1; slope < 1
    exposes over-dispersion (the model should be shrunk), intercept ≠ 0
    a level bias. Forecasts quantize to integer cents before the
    moment sums (the suffstat discipline), so slope and intercept are
    double divisions of exact integer cross-moments (exact_line).
    Shape: the same broadcast-coefficient OOF apply (fold_line_fit) as
    the other CV gates + ONE fold-keyed moment aggregate."""
    from .queries import _events_cv

    ev, ps = _events_cv(spark, sf_dir)
    evq = ev.select(
        "event_id",
        "period",
        F.col("hod").cast("long").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    )
    asg = ps.assign(evq)
    coef = fold_line_fit(asg, "fold_id", "x", "yc")
    oof = (
        asg.where(F.col("role") == "test")
        .join(F.broadcast(coef), "fold_id")
        .select(
            F.col("fold_id").cast("long").alias("fold_id"),
            F.col("yc").alias("y"),
            F.round(
                F.col("b0") + F.col("b1") * F.col("x").cast("double")
            )
            .cast("long")
            .alias("p"),
        )
    )
    mz = oof.groupBy("fold_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p").alias("sp"),
        F.sum("y").alias("sy"),
        F.sum(_dec(F.col("p")) * F.col("p")).alias("spp"),
        F.sum(_dec(F.col("p")) * F.col("y")).alias("spy"),
    )
    slope, intercept = exact_line("n", "sp", "sy", "spp", "spy")
    return mz.select(
        "fold_id",
        "n",
        slope.alias("mz_slope"),
        intercept.alias("mz_intercept"),
    ).orderBy("fold_id")


def _sql_mincer_zarnowitz() -> str:
    return f"""
WITH {_sql_events_oof_residuals()},
oof AS (
  SELECT fold_id, yc AS y, yc - e_ols AS p FROM res
),
mz AS (
  SELECT fold_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(p) AS BIGINT) AS sp,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(p AS HUGEINT) * p) AS spp,
         sum(CAST(p AS HUGEINT) * y) AS spy
  FROM oof GROUP BY fold_id
)
SELECT fold_id, n,
       (CAST(n AS HUGEINT) * spy - CAST(sp AS HUGEINT) * sy)::DOUBLE
         / (CAST(n AS HUGEINT) * spp
            - CAST(sp AS HUGEINT) * sp)::DOUBLE AS mz_slope,
       (sy::DOUBLE
        - ((CAST(n AS HUGEINT) * spy - CAST(sp AS HUGEINT) * sy)::DOUBLE
           / (CAST(n AS HUGEINT) * spp
              - CAST(sp AS HUGEINT) * sp)::DOUBLE) * sp::DOUBLE)
         / n::DOUBLE AS mz_intercept
FROM mz ORDER BY fold_id
"""

# ======================================================================
# cv_adversarial_auc — per-fold adversarial validation (covariate shift)
# ======================================================================


def q_cv_adversarial_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adversarial validation per fold: the exact rank-sum (Mann-
    Whitney) AUC of the cents-quantized value at separating TEST rows
    from TRAIN rows inside each fold — AUC ≈ ½ certifies the fold
    boundary is exchangeable in this feature, a deviation quantifies
    the covariate shift a walk-forward split induces (the univariate
    form of the train-a-discriminator trick; the PSI gate cv_fold_drift
    sees distribution distance, this sees separability). Same exact
    integer rank algebra as operators/evaluation.auc_ranksum, run
    fold-keyed: tie-adjusted rank sums from a per-value count table,
    u2 exact, ONE double division."""
    from .queries import _events_cv

    ev, ps = _events_cv(spark, sf_dir)
    evq = ev.select(
        "event_id",
        "period",
        F.round(F.col("value") * 100).cast("long").alias("s"),
    )
    asg = ps.assign(evq).select(
        F.col("fold_id").cast("long").alias("fold_id"),
        "s",
        (F.col("role") == "test").cast("long").alias("y"),
    )
    g = asg.groupBy("fold_id", "s").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    w = (
        Window.partitionBy("fold_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    g = g.withColumn("cum", F.sum("cnt").over(w))
    agg = g.groupBy("fold_id").agg(
        F.sum("cnt").alias("n"),
        F.sum("pos").alias("n_pos"),
        F.sum(
            _dec(F.col("pos"))
            * (F.lit(2) * F.col("cum") - F.col("cnt") + 1).cast(
                "decimal(38,0)"
            )
        ).alias("_r2"),
    )
    u2 = (
        F.col("_r2")
        - _dec(F.col("n_pos")) * (F.col("n_pos") + 1).cast("decimal(38,0)")
    ).cast("long")
    return agg.select(
        "fold_id",
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        u2.alias("u2"),
        (
            u2.cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * (F.col("n") - F.col("n_pos")).cast("double")
            )
        ).alias("auc_adv"),
    ).orderBy("fold_id")


def _sql_adversarial_auc() -> str:
    from .queries import _FOLD_CTE

    return f"""
WITH {_FOLD_CTE},
t AS (
  SELECT a.fold_id,
         CAST(round(e.value * 100) AS BIGINT) AS s,
         CASE WHEN a.role = 'test' THEN 1 ELSE 0 END AS y
  FROM assign a JOIN ev e ON e.period = a.period
),
g AS (
  SELECT fold_id, s, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(y) AS BIGINT) AS pos
  FROM t GROUP BY fold_id, s
),
c AS (
  SELECT fold_id, s, cnt, pos,
         sum(cnt) OVER (PARTITION BY fold_id ORDER BY s
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM g
),
agg AS (
  SELECT fold_id, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         sum(CAST(pos AS HUGEINT) * (2 * cum - cnt + 1)) AS r2
  FROM c GROUP BY fold_id
)
SELECT fold_id, n, n_pos, n - n_pos AS n_neg,
       CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT) AS u2,
       CAST(r2 - CAST(n_pos AS HUGEINT) * (n_pos + 1) AS BIGINT)::DOUBLE
         / (2.0 * n_pos::DOUBLE * (n - n_pos)::DOUBLE) AS auc_adv
FROM agg ORDER BY fold_id
"""

# ======================================================================
# feat_adf_test — Dickey-Fuller stationarity audit per series
# ======================================================================


def q_feat_adf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test (Dickey & Fuller 1979; the
    lag-0 / constant-included variant — no augmentation terms,
    documented) per event-type daily-revenue series: regress Δy_t on
    y_{t−1}, DF = b̂₁/se(b̂₁); a unit root (non-stationary series, the
    thing that invalidates naive CV on levels) shows DF ≈ 0 while a
    stationary series drives DF strongly negative. The panel-CV
    pre-flight: run it per entity before trusting level-based folds.
    Daily sums are exact integer cents; residuals re-quantize to
    integers, so n/Σx/Σy/Σxx/Σxy/Σe² are all exact and DF is a chain
    of three double operations on them. One rollup + one lag window +
    one moment aggregate per series."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    pairs = daily.select(
        "event_type",
        F.lag("y").over(w).alias("x"),
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
    ).where(F.col("x").isNotNull())
    mom = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(_dec(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(_dec(F.col("x")) * F.col("dy")).alias("sxy"),
    )
    b1, b0 = exact_line("n", "sx", "sy", "sxx", "sxy")
    coef = mom.select(
        "event_type",
        "n",
        b1.alias("b1"),
        b0.alias("b0"),
        exact_comoment("n", "sx", "sx", "sxx").cast("double").alias("den"),
    )
    res = (
        pairs.join(F.broadcast(coef), "event_type")
        .select(
            "event_type",
            F.round(
                F.col("dy").cast("double")
                - (F.col("b0") + F.col("b1") * F.col("x").cast("double"))
            )
            .cast("long")
            .alias("e"),
        )
        .groupBy("event_type")
        .agg(F.sum(_dec(F.col("e")) * F.col("e")).alias("se2"))
    )
    out = coef.join(res, "event_type")
    df_stat = F.col("b1") / F.sqrt(
        (
            F.col("se2").cast("double")
            / (F.col("n") - 2).cast("double")
        )
        * F.col("n").cast("double")
        / F.col("den")
    )
    return out.select(
        "event_type",
        "n",
        F.col("se2").cast("long").alias("sse"),
        F.col("b1").alias("rho_minus_1"),
        df_stat.alias("df_stat"),
    ).orderBy("event_type")


def _sql_adf_test() -> str:
    return """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, day
),
pairs AS (
  SELECT event_type,
         lag(y) OVER (PARTITION BY event_type ORDER BY day) AS x,
         y - lag(y) OVER (PARTITION BY event_type ORDER BY day) AS dy
  FROM daily
),
mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(dy) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * dy) AS sxy
  FROM pairs WHERE x IS NOT NULL GROUP BY event_type
),
coef AS (
  SELECT event_type, n,
         (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)::DOUBLE
           / (CAST(n AS HUGEINT) * sxx
              - CAST(sx AS HUGEINT) * sx)::DOUBLE AS b1,
         (CAST(n AS HUGEINT) * sxx
          - CAST(sx AS HUGEINT) * sx)::DOUBLE AS den,
         sx, sy
  FROM mom
),
coef2 AS (
  SELECT event_type, n, b1, den,
         (sy::DOUBLE - b1 * sx::DOUBLE) / n::DOUBLE AS b0
  FROM coef
),
res AS (
  SELECT p.event_type,
         sum(CAST(CAST(round(p.dy::DOUBLE
                             - (c.b0 + c.b1 * CAST(p.x AS DOUBLE)))
                       AS BIGINT) AS HUGEINT)
             * CAST(round(p.dy::DOUBLE
                          - (c.b0 + c.b1 * CAST(p.x AS DOUBLE)))
                    AS BIGINT)) AS se2
  FROM pairs p JOIN coef2 c USING (event_type)
  WHERE p.x IS NOT NULL
  GROUP BY p.event_type
)
SELECT c.event_type, c.n, CAST(r.se2 AS BIGINT) AS sse,
       c.b1 AS rho_minus_1,
       c.b1 / sqrt((r.se2::DOUBLE / (c.n - 2)::DOUBLE)
                   * c.n::DOUBLE / c.den) AS df_stat
FROM coef2 c JOIN res r USING (event_type)
ORDER BY c.event_type
"""

# ======================================================================
# cv_purge_effect — does purging/embargo change the OOF verdict?
# ======================================================================

_PE_G, _PE_K = 6, 2
_PE_PURGE, _PE_EMBARGO = 2, 1


def q_cv_purge_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purge/embargo ablation (the López de Prado leakage control,
    quantified): run the SAME C(6,2) combinatorial CV twice — naive
    (purge=0) vs purged (purge=2, embargo=1) — and pool the OOF
    squared error of the per-split closed-form OLS over identical test
    sets. On an exchangeable panel the two MSEs agree (the honest
    null, asserted by the property test); on serially-leaking features
    the naive variant flatters itself — this gate is how a user
    measures that gap before trusting a backtest. Exact integer cents
    errors; two broadcast fan-out assigns, two moment aggregates."""
    from .operators.cross_validation import cpcv_panel_assign

    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("period"),
        F.hour("ts").cast("long").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    )
    variants = [
        ("naive", 0, 0),
        ("purged", _PE_PURGE, _PE_EMBARGO),
    ]
    outs = []
    for name, purge, embargo in variants:
        asg = cpcv_panel_assign(
            ev, "period", n_groups=_PE_G, n_test_groups=_PE_K,
            purge=purge, embargo=embargo,
        )
        coef = fold_line_fit(asg, "split_id", "x", "yc")
        scored = (
            asg.where(F.col("role") == "test")
            .join(F.broadcast(coef), "split_id")
            .select(
                F.round(
                    F.col("yc").cast("double")
                    - (
                        F.col("b0")
                        + F.col("b1") * F.col("x").cast("double")
                    )
                )
                .cast("long")
                .alias("e")
            )
        )
        outs.append(
            scored.groupBy().agg(
                F.lit(name).alias("variant"),
                F.count(F.lit(1)).alias("n_oof"),
                F.sum(_dec(F.col("e")) * F.col("e"))
                .cast("decimal(38,0)")
                .cast("long")
                .alias("sse"),
            ).select(
                "variant",
                "n_oof",
                "sse",
                (
                    F.col("sse").cast("double")
                    / F.col("n_oof").cast("double")
                ).alias("mse"),
            )
        )
    return outs[0].unionByName(outs[1]).orderBy("variant")


def _sql_purge_effect() -> str:
    from itertools import combinations

    combo_vals = ", ".join(
        f"({sid}, {g})"
        for sid, combo in enumerate(
            combinations(range(_PE_G), _PE_K)
        )
        for g in combo
    )

    def variant_cte(tag: str, purge: int, embargo: int) -> str:
        return f"""
assign_{tag} AS (
  SELECT b.split_id, 'test' AS role, u.period
  FROM b JOIN up u ON u.rk >= b.glo AND u.rk < b.ghi
  UNION ALL
  SELECT s.split_id, 'train' AS role, u.period
  FROM (SELECT DISTINCT split_id FROM combos) s
  CROSS JOIN up u
  WHERE NOT EXISTS (
    SELECT 1 FROM b
    WHERE b.split_id = s.split_id
      AND u.rk >= GREATEST(0, b.glo - {purge})
      AND u.rk < LEAST(b.n, b.ghi + {embargo})
  )
),
fitm_{tag} AS (
  SELECT a.split_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(e.x) AS BIGINT) AS sx,
         CAST(sum(e.yc) AS BIGINT) AS sy,
         sum(CAST(e.x AS HUGEINT) * e.x) AS sxx,
         sum(CAST(e.x AS HUGEINT) * e.yc) AS sxy
  FROM assign_{tag} a JOIN ev e ON e.period = a.period
  WHERE a.role = 'train' GROUP BY 1
),
coef_{tag} AS (
  SELECT split_id, b1, (sy::DOUBLE - b1 * sx::DOUBLE) / n::DOUBLE AS b0
  FROM (
    SELECT split_id,
           (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)::DOUBLE
             / (CAST(n AS HUGEINT) * sxx
                - CAST(sx AS HUGEINT) * sx)::DOUBLE AS b1,
           n, sx, sy
    FROM fitm_{tag}
  )
),
score_{tag} AS (
  SELECT '{tag}' AS variant, count(*) AS n_oof,
         CAST(sum(CAST(CAST(round(e.yc::DOUBLE
                    - (c.b0 + c.b1 * CAST(e.x AS DOUBLE))) AS BIGINT)
                        AS HUGEINT)
                  * CAST(round(e.yc::DOUBLE
                    - (c.b0 + c.b1 * CAST(e.x AS DOUBLE))) AS BIGINT))
              AS BIGINT) AS sse
  FROM assign_{tag} a
  JOIN ev e ON e.period = a.period
  JOIN coef_{tag} c USING (split_id)
  WHERE a.role = 'test'
)"""

    return f"""
WITH up AS (
  SELECT period,
         CAST(dense_rank() OVER (ORDER BY period) - 1 AS BIGINT) AS rk
  FROM (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS period FROM events
        WHERE ts IS NOT NULL) t
),
np AS (SELECT count(*) AS n FROM up),
combos AS (
  SELECT CAST(c0 AS BIGINT) AS split_id, c1 AS tg
  FROM (VALUES {combo_vals}) t(c0, c1)
),
b AS (
  SELECT c.split_id, c.tg,
         c.tg * (np.n // {_PE_G}) + LEAST(c.tg, np.n % {_PE_G}) AS glo,
         (c.tg + 1) * (np.n // {_PE_G})
           + LEAST(c.tg + 1, np.n % {_PE_G}) AS ghi,
         np.n AS n
  FROM combos c, np
),
ev AS (
  SELECT strftime(ts, '%Y-%m-%d') AS period,
         CAST(date_part('hour', ts) AS BIGINT) AS x,
         CAST(round(value * 100) AS BIGINT) AS yc
  FROM events
),{variant_cte("naive", 0, 0)},{variant_cte(
        "purged", _PE_PURGE, _PE_EMBARGO)}
SELECT variant, n_oof, sse, sse::DOUBLE / n_oof::DOUBLE AS mse
FROM (SELECT * FROM score_naive UNION ALL SELECT * FROM score_purged)
ORDER BY variant
"""

# ======================================================================
# cv_loco_importance — leave-one-covariate-out OOF importance
# ======================================================================


def q_cv_loco_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-covariate-out importance (LOCO — Lei et al. 2018)
    over the monthly lineitem CV: per fold, fit the 2-regressor OLS
    (extendedprice ~ quantity + discount_bp) AND both 1-regressor
    ablations from the SAME nine exact integer moments (one grouped
    aggregate — the full model is group_ols2's Cramer solve over
    exact_comoment entries, each ablation an exact_line on the same
    sums), then charge each covariate the OOF SSE its removal adds.
    The honest, refit-based
    importance a panel CV can actually certify — unlike permutation
    importance it prices the model's ability to COMPENSATE. All
    residuals re-quantize to integer dollars, so every SSE and every
    LOCO delta is exact."""
    from .queries_data import _li_cv

    li, ps = _li_cv(spark, sf_dir)
    liq = li.select(
        "period",
        F.round("l_quantity").cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    asg = ps.assign(liq)
    g = (
        asg.where(F.col("role") == "train")
        .groupBy("fold_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x1").alias("sx1"),
            F.sum("x2").alias("sx2"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
            F.sum(F.col("x1") * F.col("x2")).alias("sx1x2"),
            F.sum(F.col("x2") * F.col("x2")).alias("sx2x2"),
            F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
            F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
        )
    )
    a11 = exact_comoment("n", "sx1", "sx1", "sx1x1")
    a12 = exact_comoment("n", "sx1", "sx2", "sx1x2")
    a22 = exact_comoment("n", "sx2", "sx2", "sx2x2")
    b1n = exact_comoment("n", "sx1", "sy", "sx1y")
    b2n = exact_comoment("n", "sx2", "sy", "sx2y")
    det = a11 * a22 - a12 * a12
    fb1 = (a22 * b1n - a12 * b2n).cast("double") / det.cast("double")
    fb2 = (a11 * b2n - a12 * b1n).cast("double") / det.cast("double")
    fb0 = (
        F.col("sy").cast("double")
        - fb1 * F.col("sx1").cast("double")
        - fb2 * F.col("sx2").cast("double")
    ) / F.col("n").cast("double")
    # ablations from the SAME moments: y ~ x2 only, y ~ x1 only
    s2b, s2a = exact_line("n", "sx2", "sy", "sx2x2", "sx2y")
    s1b, s1a = exact_line("n", "sx1", "sy", "sx1x1", "sx1y")
    coef = g.select(
        "fold_id",
        fb0.alias("fb0"), fb1.alias("fb1"), fb2.alias("fb2"),
        s2a.alias("no1_b0"), s2b.alias("no1_b2"),
        s1a.alias("no2_b0"), s1b.alias("no2_b1"),
    )
    te = asg.where(F.col("role") == "test").join(
        F.broadcast(coef), "fold_id"
    )
    yd = F.col("y").cast("double")
    x1d = F.col("x1").cast("double")
    x2d = F.col("x2").cast("double")

    def qerr(pred):
        return F.round(yd - pred).cast("long")

    e_full = qerr(F.col("fb0") + F.col("fb1") * x1d + F.col("fb2") * x2d)
    e_no1 = qerr(F.col("no1_b0") + F.col("no1_b2") * x2d)
    e_no2 = qerr(F.col("no2_b0") + F.col("no2_b1") * x1d)
    agg = te.select(
        F.col("fold_id").cast("long").alias("fold_id"),
        e_full.alias("ef"), e_no1.alias("e1"), e_no2.alias("e2"),
    ).groupBy("fold_id").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.sum(_dec(F.col("ef")) * F.col("ef")).cast("long").alias(
            "sse_full"
        ),
        F.sum(_dec(F.col("e1")) * F.col("e1")).cast("long").alias(
            "sse_no_x1"
        ),
        F.sum(_dec(F.col("e2")) * F.col("e2")).cast("long").alias(
            "sse_no_x2"
        ),
    )
    return agg.select(
        "fold_id",
        "n_test",
        "sse_full",
        "sse_no_x1",
        "sse_no_x2",
        (F.col("sse_no_x1") - F.col("sse_full")).alias("loco_x1"),
        (F.col("sse_no_x2") - F.col("sse_full")).alias("loco_x2"),
    ).orderBy("fold_id")


def _sql_loco_importance() -> str:
    from .oracle_fragments import fold_cte
    from .queries_data import LI_K, LI_MTS, LI_T

    scaffold = fold_cte(
        table="lineitem",
        period_expr="strftime(l_shipdate, '%Y-%m')",
        k=LI_K,
        t=LI_T,
        gap=0,
        mts=LI_MTS,
        tail="""li AS (
  SELECT strftime(l_shipdate, '%Y-%m') AS period,
         CAST(round(l_quantity) AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2,
         CAST(round(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
)""",
    )
    return f"""
WITH {scaffold},
t AS (
  SELECT a.fold_id, a.role, l.x1, l.x2, l.y
  FROM assign a JOIN li l ON l.period = a.period
),
g AS (
  SELECT fold_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS sx1,
         CAST(sum(x2) AS BIGINT) AS sx2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS sx1x1,
         CAST(sum(x1 * x2) AS BIGINT) AS sx1x2,
         CAST(sum(x2 * x2) AS BIGINT) AS sx2x2,
         CAST(sum(x1 * y) AS BIGINT) AS sx1y,
         CAST(sum(x2 * y) AS BIGINT) AS sx2y
  FROM t WHERE role = 'train' GROUP BY fold_id
),
coef AS (
  SELECT fold_id,
         (a22 * b1n - a12 * b2n)::DOUBLE / det::DOUBLE AS fb1,
         (a11 * b2n - a12 * b1n)::DOUBLE / det::DOUBLE AS fb2,
         (sy::DOUBLE
          - ((a22 * b1n - a12 * b2n)::DOUBLE / det::DOUBLE)
            * sx1::DOUBLE
          - ((a11 * b2n - a12 * b1n)::DOUBLE / det::DOUBLE)
            * sx2::DOUBLE) / n::DOUBLE AS fb0,
         b2n::DOUBLE / a22::DOUBLE AS no1_b2,
         (sy::DOUBLE - (b2n::DOUBLE / a22::DOUBLE) * sx2::DOUBLE)
           / n::DOUBLE AS no1_b0,
         b1n::DOUBLE / a11::DOUBLE AS no2_b1,
         (sy::DOUBLE - (b1n::DOUBLE / a11::DOUBLE) * sx1::DOUBLE)
           / n::DOUBLE AS no2_b0
  FROM (
    SELECT fold_id, n, sx1, sx2, sy,
           CAST(n AS HUGEINT) * sx1x1 - CAST(sx1 AS HUGEINT) * sx1
             AS a11,
           CAST(n AS HUGEINT) * sx1x2 - CAST(sx1 AS HUGEINT) * sx2
             AS a12,
           CAST(n AS HUGEINT) * sx2x2 - CAST(sx2 AS HUGEINT) * sx2
             AS a22,
           CAST(n AS HUGEINT) * sx1y - CAST(sx1 AS HUGEINT) * sy AS b1n,
           CAST(n AS HUGEINT) * sx2y - CAST(sx2 AS HUGEINT) * sy AS b2n
    FROM g
  ) m
  CROSS JOIN LATERAL (SELECT m.a11 * m.a22 - m.a12 * m.a12 AS det) dd
),
scored AS (
  SELECT t.fold_id,
         CAST(round(t.y::DOUBLE
              - (c.fb0 + c.fb1 * CAST(t.x1 AS DOUBLE)
                 + c.fb2 * CAST(t.x2 AS DOUBLE))) AS BIGINT) AS ef,
         CAST(round(t.y::DOUBLE
              - (c.no1_b0 + c.no1_b2 * CAST(t.x2 AS DOUBLE)))
              AS BIGINT) AS e1,
         CAST(round(t.y::DOUBLE
              - (c.no2_b0 + c.no2_b1 * CAST(t.x1 AS DOUBLE)))
              AS BIGINT) AS e2
  FROM t JOIN coef c USING (fold_id) WHERE t.role = 'test'
)
SELECT fold_id, count(*) AS n_test,
       CAST(sum(CAST(ef AS HUGEINT) * ef) AS BIGINT) AS sse_full,
       CAST(sum(CAST(e1 AS HUGEINT) * e1) AS BIGINT) AS sse_no_x1,
       CAST(sum(CAST(e2 AS HUGEINT) * e2) AS BIGINT) AS sse_no_x2,
       CAST(sum(CAST(e1 AS HUGEINT) * e1) AS BIGINT)
         - CAST(sum(CAST(ef AS HUGEINT) * ef) AS BIGINT) AS loco_x1,
       CAST(sum(CAST(e2 AS HUGEINT) * e2) AS BIGINT)
         - CAST(sum(CAST(ef AS HUGEINT) * ef) AS BIGINT) AS loco_x2
FROM scored GROUP BY fold_id ORDER BY fold_id
"""

# ======================================================================
# cv_forecast_combo — Bates-Granger optimal forecast combination
# ======================================================================


def q_cv_forecast_combo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal forecast combination (Bates & Granger 1969): per fold,
    the variance-minimizing weight for blending the OLS forecast with
    the train-mean baseline from their OOF error second moments —
    w* = (Σe_m² − Σe_o e_m) / (Σe_o² + Σe_m² − 2Σe_o e_m) — plus the
    SSE the combination would have achieved, compared against the
    better single model (the combination-beats-selection diagnostic
    every forecasting shop runs). The three error moments are exact
    integers from the cents-quantized residual pair; w* is ONE double
    division; the combined SSE expands algebraically in the SAME three
    moments (w²Σe_o² + 2w(1−w)Σe_o e_m + (1−w)²Σe_m²) so no second
    data pass is needed."""
    res = _events_oof_residuals(spark, sf_dir)
    mom = res.groupBy("fold_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec(F.col("e_ols")) * F.col("e_ols")).cast("long").alias(
            "soo"
        ),
        F.sum(_dec(F.col("e_mean")) * F.col("e_mean")).cast("long").alias(
            "smm"
        ),
        F.sum(_dec(F.col("e_ols")) * F.col("e_mean")).cast("long").alias(
            "som"
        ),
    )
    denom = (
        F.col("soo").cast("double")
        + F.col("smm").cast("double")
        - F.lit(2.0) * F.col("som").cast("double")
    )
    w = (
        (F.col("smm").cast("double") - F.col("som").cast("double"))
        / denom
    )
    sse_combo = (
        w * w * F.col("soo").cast("double")
        + F.lit(2.0) * w * (F.lit(1.0) - w) * F.col("som").cast("double")
        + (F.lit(1.0) - w) * (F.lit(1.0) - w)
        * F.col("smm").cast("double")
    )
    return mom.select(
        "fold_id",
        "n",
        "soo",
        "smm",
        "som",
        w.alias("w_ols"),
        sse_combo.alias("sse_combo"),
        (
            sse_combo
            / F.least(F.col("soo"), F.col("smm")).cast("double")
        ).alias("combo_vs_best"),
    ).orderBy("fold_id")


def _sql_forecast_combo() -> str:
    return f"""
WITH {_sql_events_oof_residuals()},
mom AS (
  SELECT fold_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(e_ols AS HUGEINT) * e_ols) AS BIGINT) AS soo,
         CAST(sum(CAST(e_mean AS HUGEINT) * e_mean) AS BIGINT) AS smm,
         CAST(sum(CAST(e_ols AS HUGEINT) * e_mean) AS BIGINT) AS som
  FROM res GROUP BY fold_id
)
SELECT fold_id, n, soo, smm, som,
       (smm::DOUBLE - som::DOUBLE)
         / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE) AS w_ols,
       ((smm::DOUBLE - som::DOUBLE)
          / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
         * ((smm::DOUBLE - som::DOUBLE)
            / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
         * soo::DOUBLE
       + 2.0 * ((smm::DOUBLE - som::DOUBLE)
                / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
             * (1.0 - (smm::DOUBLE - som::DOUBLE)
                      / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
             * som::DOUBLE
       + (1.0 - (smm::DOUBLE - som::DOUBLE)
                / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
         * (1.0 - (smm::DOUBLE - som::DOUBLE)
                  / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
         * smm::DOUBLE AS sse_combo,
       (((smm::DOUBLE - som::DOUBLE)
          / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
         * ((smm::DOUBLE - som::DOUBLE)
            / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
         * soo::DOUBLE
       + 2.0 * ((smm::DOUBLE - som::DOUBLE)
                / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
             * (1.0 - (smm::DOUBLE - som::DOUBLE)
                      / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
             * som::DOUBLE
       + (1.0 - (smm::DOUBLE - som::DOUBLE)
                / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
         * (1.0 - (smm::DOUBLE - som::DOUBLE)
                  / (soo::DOUBLE + smm::DOUBLE - 2.0 * som::DOUBLE))
         * smm::DOUBLE)
         / LEAST(soo, smm)::DOUBLE AS combo_vs_best
FROM mom ORDER BY fold_id
"""

# ======================================================================
# feat_kpss_test — KPSS level-stationarity statistic per series
# ======================================================================


def q_feat_kpss_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test (Kwiatkowski, Phillips, Schmidt &
    Shin 1992; lag-0 long-run variance, documented) per event-type
    daily-revenue series — the complement of feat_adf_test: here the
    NULL is stationarity, so ADF-rejects + KPSS-accepts is the
    two-sided certificate a series is safe for level-based folds.
    η = n⁻² Σ_t S_t² / σ̂² with S_t the cumulative demeaned series:
    demeaning stays exact by scaling to d_t = n·y_t − Σy (integers),
    whose cumsums S'_t = n·S_t make Σ S'_t² exact; the statistic is
    ONE division of exact integers (the n² factors cancel against the
    scaling). Shape: one rollup + one cumulative window + one moment
    aggregate per series."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("y"))
    )
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy")
    )
    d = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        "n",
        "sy",
        (_dec(F.col("n")) * F.col("y") - _dec(F.col("sy"))).alias("d"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    s = d.select(
        "event_type", "n", "sy", F.sum("d").over(w).alias("sp")
    )
    agg = s.groupBy("event_type", "n", "sy").agg(
        F.sum(F.col("sp") * F.col("sp")).cast("decimal(38,0)").alias(
            "ssp2"
        )
    )
    # σ̂² of the raw series from exact moments: n·Σy² − (Σy)²
    mom2 = daily.groupBy("event_type").agg(
        F.sum(_dec(F.col("y")) * F.col("y")).alias("syy")
    )
    out = agg.join(mom2, "event_type")
    # η = Σ S_t²/(n²·σ̂²) with S'=n·S and σ̂² = (nΣy²−(Σy)²)/n²:
    #   = Σ S'_t² / (n² · (nΣy² − (Σy)²))
    eta = F.col("ssp2").cast("double") / (
        (_dec(F.col("n")) * F.col("n"))
        * (_dec(F.col("n")) * F.col("syy") - _dec(F.col("sy")) * F.col("sy"))
    ).cast("double")
    return out.select(
        "event_type",
        "n",
        F.col("ssp2").cast("double").alias("ssp2_scaled"),
        eta.alias("kpss_eta"),
    ).orderBy("event_type")


def _sql_kpss_test() -> str:
    return """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, day
),
tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM daily GROUP BY event_type
),
d AS (
  SELECT daily.event_type, daily.day, tot.n, tot.sy, tot.syy,
         CAST(tot.n AS HUGEINT) * daily.y - tot.sy AS d
  FROM daily JOIN tot USING (event_type)
),
s AS (
  SELECT event_type, n, sy, syy,
         sum(d) OVER (PARTITION BY event_type ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS sp
  FROM d
),
agg AS (
  SELECT event_type, n, sy, syy, sum(sp * sp) AS ssp2
  FROM s GROUP BY event_type, n, sy, syy
)
SELECT event_type, n, ssp2::DOUBLE AS ssp2_scaled,
       ssp2::DOUBLE
         / ((CAST(n AS HUGEINT) * n)
            * (CAST(n AS HUGEINT) * syy
               - CAST(sy AS HUGEINT) * sy))::DOUBLE AS kpss_eta
FROM agg ORDER BY event_type
"""

# ======================================================================
# feat_variance_ratio — Lo-MacKinlay random-walk test
# ======================================================================

_VR_QS = (2, 4)


def q_feat_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-ratio test (Lo & MacKinlay 1988, calendar-bucketed
    variant): VR(q) = Var(q-day sums) / (q · Var(1-day)) over the
    daily revenue series — VR ≈ 1 under a random walk, VR < 1 flags
    mean reversion, VR > 1 momentum. Days bucket by rank div q (exact
    calendar blocks; ragged tail bucket dropped), so every variance
    comes from exact integer moments of integer sums and VR is one
    double ratio of two such variances. One rollup + one rank window +
    one aggregate per (series, q)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("y"))
    )
    w = Window.partitionBy("event_type").orderBy("day")
    ranked = daily.select(
        "event_type", "y", (F.row_number().over(w) - 1).alias("rk")
    ).localCheckpoint(eager=True)

    def var_expr(nc, sc, s2c):
        return (
            (_dec(F.col(nc)) * F.col(s2c) - _dec(F.col(sc)) * F.col(sc))
            .cast("double")
            / (_dec(F.col(nc)) * (F.col(nc) - 1)).cast("double")
        )

    base = ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n1"),
        F.sum("y").alias("s1"),
        F.sum(_dec(F.col("y")) * F.col("y")).alias("s11"),
    )
    outs = []
    for q in _VR_QS:
        blocks = (
            ranked.withColumn("b", F.expr(f"rk div {q}"))
            .groupBy("event_type", "b")
            .agg(
                F.count(F.lit(1)).alias("bc"),
                F.sum("y").alias("by"),
            )
            .where(F.col("bc") == q)
        )
        bq = blocks.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("nq"),
            F.sum("by").alias("sq"),
            F.sum(_dec(F.col("by")) * F.col("by")).alias("sqq"),
        )
        j = base.join(bq, "event_type")
        vr = var_expr("nq", "sq", "sqq") / (
            F.lit(float(q)) * var_expr("n1", "s1", "s11")
        )
        outs.append(
            j.select(
                "event_type",
                F.lit(q).cast("long").alias("q"),
                F.col("n1"),
                F.col("nq"),
                vr.alias("vr"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("event_type", "q")


def _sql_variance_ratio() -> str:
    def q_cte(q: int) -> str:
        return f"""
b{q} AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS nq,
         CAST(sum(by) AS BIGINT) AS sq,
         sum(CAST(by AS HUGEINT) * by) AS sqq
  FROM (
    SELECT event_type, rk // {q} AS b, count(*) AS bc,
           CAST(sum(y) AS BIGINT) AS by
    FROM ranked GROUP BY event_type, rk // {q}
  ) t WHERE bc = {q} GROUP BY event_type
),
r{q} AS (
  SELECT base.event_type, CAST({q} AS BIGINT) AS q, base.n1, b{q}.nq,
         ((CAST(nq AS HUGEINT) * sqq - CAST(sq AS HUGEINT) * sq)::DOUBLE
          / (CAST(nq AS HUGEINT) * (nq - 1))::DOUBLE)
         / ({float(q)!r}
            * ((CAST(n1 AS HUGEINT) * s11
                - CAST(s1 AS HUGEINT) * s1)::DOUBLE
               / (CAST(n1 AS HUGEINT) * (n1 - 1))::DOUBLE)) AS vr
  FROM base JOIN b{q} USING (event_type)
)"""

    ctes = ",".join(q_cte(q) for q in _VR_QS)
    unions = " UNION ALL ".join(f"SELECT * FROM r{q}" for q in _VR_QS)
    return f"""
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
  FROM events GROUP BY event_type, day
),
ranked AS MATERIALIZED (
  SELECT event_type, y,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              - 1 AS BIGINT) AS rk
  FROM daily
),
base AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n1,
         CAST(sum(y) AS BIGINT) AS s1,
         sum(CAST(y AS HUGEINT) * y) AS s11
  FROM ranked GROUP BY event_type
),{ctes}
SELECT event_type, q, n1, nq, vr FROM ({unions})
ORDER BY event_type, q
"""

# ======================================================================
# cv_coef_stability — walk-forward parameter-stability audit
# ======================================================================


def q_cv_coef_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter-stability audit across walk-forward folds: the
    per-fold OLS slope (monthly lineitem CV), nano-quantized, against
    the all-fold mean — a model whose coefficient swings fold to fold
    is fitting noise even when every fold's MSE looks fine (the
    parameter-constancy complement of cv_fold_mse; cf. the
    Chow-test/rolling-beta tradition). Exact arithmetic: slopes come
    from fold_line_fit's exact_line form, quantize to nano BEFORE
    the cross-fold mean, so mean and absolute deviations are exact
    integer algebra (mean·K kept as the integer sum to avoid a
    division: dev_K = K·b − Σb)."""
    from .queries_data import _li_cv

    li, ps = _li_cv(spark, sf_dir)
    liq = li.select(
        "period",
        F.round("l_quantity").cast("long").alias("x"),
        F.round("l_extendedprice").cast("long").alias("y"),
    )
    asg = ps.assign(liq)
    slopes = fold_line_fit(asg, "fold_id", "x", "y").select(
        F.col("fold_id").cast("long").alias("fold_id"),
        F.round(F.col("b1") * F.lit(1000000000))
        .cast("long")
        .alias("b1_nano"),
    )
    tot = slopes.groupBy().agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("b1_nano").alias("sb"),
    )
    return (
        slopes.crossJoin(F.broadcast(tot))
        .select(
            "fold_id",
            "b1_nano",
            "k",
            "sb",
            # K·b − Σb: the K-scaled deviation from the fold mean,
            # exact integers (no division)
            (
                _dec(F.col("b1_nano")) * F.col("k") - _dec(F.col("sb"))
            ).cast("long").alias("dev_k_nano"),
        )
        .orderBy("fold_id")
    )


def _sql_coef_stability() -> str:
    from .queries_data import _LI_FOLD_CTE

    return f"""
WITH {_LI_FOLD_CTE},
t AS (
  SELECT a.fold_id,
         CAST(round(l.l_quantity) AS BIGINT) AS x,
         CAST(round(l.l_extendedprice) AS BIGINT) AS y
  FROM assign a JOIN li l ON l.period = a.period
  WHERE a.role = 'train'
),
fit AS (
  SELECT fold_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM t GROUP BY fold_id
),
slopes AS (
  SELECT fold_id,
         CAST(round(
           (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)::DOUBLE
             / (CAST(n AS HUGEINT) * sxx
                - CAST(sx AS HUGEINT) * sx)::DOUBLE
           * 1000000000) AS BIGINT) AS b1_nano
  FROM fit
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(b1_nano) AS BIGINT) AS sb
  FROM slopes
)
SELECT fold_id, b1_nano, k, sb,
       CAST(CAST(b1_nano AS HUGEINT) * k - sb AS BIGINT) AS dev_k_nano
FROM slopes, tot ORDER BY fold_id
"""

# ======================================================================
# feat_pacf — partial autocorrelation via Durbin-Levinson (lags 1..3)
# ======================================================================


def q_feat_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1..3 via the Durbin-Levinson
    recursion over the calendar-join ACF (feat_acf's machinery) — the
    AR-order selector: ACF says WHETHER memory exists, PACF says how
    many AR lags carry it (φ33 ≈ 0 with φ11 ≠ 0 reads AR(1)). The
    three ρ̂ values are the established fixed-order doubles from exact
    decimal moments; the recursion (φ11 = ρ1, φ22 = (ρ2−ρ1²)/(1−ρ1²),
    φ33 via the level-2 coefficients) is a fixed textual chain of
    double arithmetic on them, written identically in both engines.
    Pairwise-complete ACF variant (each lag its own moments),
    documented."""
    from .operators.timeseries import acf_lags

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    acf = acf_lags(orders, "day", "cents", max_lag=3)
    piv = acf.groupBy().agg(
        *[
            F.max(F.when(F.col("lag") == k, F.col("acf"))).alias(f"r{k}")
            for k in (1, 2, 3)
        ]
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    p22 = (r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)
    p21 = r1 - p22 * r1
    p33 = (r3 - p21 * r2 - p22 * r1) / (
        F.lit(1.0) - p21 * r1 - p22 * r2
    )
    return piv.select(
        "r1",
        "r2",
        "r3",
        r1.alias("pacf1"),
        p22.alias("pacf2"),
        p33.alias("pacf3"),
    )


def _sql_pacf() -> str:
    # the same pairwise-complete ACF as _SQL_ACF, capped at lag 3,
    # pivoted, then the identical Durbin-Levinson text
    return """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS v
  FROM orders GROUP BY 1
),
lags AS (SELECT CAST(unnest(generate_series(1, 3)) AS INTEGER) AS lag),
pairs AS (
  SELECT l.lag, a.v AS x, b.v AS y
  FROM lags l
  JOIN daily a ON TRUE
  JOIN daily b ON a.day = b.day + l.lag
),
g AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM pairs GROUP BY lag
),
acf AS (
  SELECT lag,
         (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)::DOUBLE
           / (sqrt((CAST(n AS HUGEINT) * sxx
                    - CAST(sx AS HUGEINT) * sx)::DOUBLE)
              * sqrt((CAST(n AS HUGEINT) * syy
                      - CAST(sy AS HUGEINT) * sy)::DOUBLE)) AS r
  FROM g
),
piv AS (
  SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
         max(CASE WHEN lag = 2 THEN r END) AS r2,
         max(CASE WHEN lag = 3 THEN r END) AS r3
  FROM acf
)
SELECT r1, r2, r3,
       r1 AS pacf1,
       (r2 - r1 * r1) / (1.0 - r1 * r1) AS pacf2,
       (r3 - (r1 - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1) * r2
           - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1)
         / (1.0 - (r1 - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r1) * r1
                - ((r2 - r1 * r1) / (1.0 - r1 * r1)) * r2) AS pacf3
FROM piv
"""

# ======================================================================
# cv_mase — mean absolute scaled error of the OOF forecasts
# ======================================================================


def q_cv_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MASE (Hyndman & Koehler 2006) per fold: OOF mean absolute
    error scaled by the TRAIN set's one-step naive MAE — the
    scale-free forecast metric that lets folds (and series) be
    compared directly; MASE < 1 means beating the naive random walk
    on the training scale. Numerator and denominator are exact
    integer |e| sums (cents residuals; train naive differences via
    one time-ordered lag window), the ratio one double division of
    the two cross-multiplied exact sums."""
    from .queries import _events_cv

    ev, ps = _events_cv(spark, sf_dir)
    evq = ev.select(
        "event_id",
        "period",
        F.col("hod").cast("long").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    )
    asg = ps.assign(evq)
    coef = fold_line_fit(asg, "fold_id", "x", "yc")
    oof = (
        asg.where(F.col("role") == "test")
        .join(F.broadcast(coef), "fold_id")
        .select(
            F.col("fold_id").cast("long").alias("fold_id"),
            F.abs(
                F.round(
                    F.col("yc").cast("double")
                    - (
                        F.col("b0")
                        + F.col("b1") * F.col("x").cast("double")
                    )
                ).cast("long")
            ).alias("ae"),
        )
        .groupBy("fold_id")
        .agg(
            F.count(F.lit(1)).alias("n_oof"),
            F.sum("ae").alias("sae_oof"),
        )
    )
    w = Window.partitionBy("fold_id").orderBy("period", "event_id")
    naive = (
        asg.where(F.col("role") == "train")
        .select(
            F.col("fold_id").cast("long").alias("fold_id"),
            "period",
            "event_id",
            "yc",
        )
        .withColumn("prev", F.lag("yc").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            "fold_id", F.abs(F.col("yc") - F.col("prev")).alias("nd")
        )
        .groupBy("fold_id")
        .agg(
            F.count(F.lit(1)).alias("n_naive"),
            F.sum("nd").alias("sae_naive"),
        )
    )
    j = oof.join(naive, "fold_id")
    mase = (
        (_dec(F.col("sae_oof")) * F.col("n_naive")).cast("double")
        / (_dec(F.col("sae_naive")) * F.col("n_oof")).cast("double")
    )
    return j.select(
        "fold_id", "n_oof", "sae_oof", "n_naive", "sae_naive",
        mase.alias("mase"),
    ).orderBy("fold_id")


def _sql_mase() -> str:
    return f"""
WITH {_sql_events_oof_residuals()},
oof AS (
  SELECT fold_id, CAST(count(*) AS BIGINT) AS n_oof,
         CAST(sum(abs(e_ols)) AS BIGINT) AS sae_oof
  FROM res GROUP BY fold_id
),
tr AS (
  SELECT fold_id, period, event_id, yc,
         lag(yc) OVER (PARTITION BY fold_id
                       ORDER BY period, event_id) AS prev
  FROM t WHERE role = 'train'
),
naive AS (
  SELECT fold_id, CAST(count(*) AS BIGINT) AS n_naive,
         CAST(sum(abs(yc - prev)) AS BIGINT) AS sae_naive
  FROM tr WHERE prev IS NOT NULL GROUP BY fold_id
)
SELECT o.fold_id, o.n_oof, o.sae_oof, n.n_naive, n.sae_naive,
       (CAST(o.sae_oof AS HUGEINT) * n.n_naive)::DOUBLE
         / (CAST(n.sae_naive AS HUGEINT) * o.n_oof)::DOUBLE AS mase
FROM oof o JOIN naive n USING (fold_id)
ORDER BY o.fold_id
"""


QUERIES15: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cv_dm_test": q_cv_dm_test,
    "cv_ljungbox": q_cv_ljungbox,
    "cv_skill_score": q_cv_skill_score,
    "cv_quantile_loss": q_cv_quantile_loss,
    "cv_pbo": q_cv_pbo,
    "cv_mincer_zarnowitz": q_cv_mincer_zarnowitz,
    "cv_adversarial_auc": q_cv_adversarial_auc,
    "feat_adf_test": q_feat_adf_test,
    "cv_purge_effect": q_cv_purge_effect,
    "cv_loco_importance": q_cv_loco_importance,
    "cv_forecast_combo": q_cv_forecast_combo,
    "feat_kpss_test": q_feat_kpss_test,
    "feat_variance_ratio": q_feat_variance_ratio,
    "cv_coef_stability": q_cv_coef_stability,
    "feat_pacf": q_feat_pacf,
    "cv_mase": q_cv_mase,
}


def oracles15() -> Dict[str, str]:
    return {
        "cv_dm_test": _sql_dm_test(),
        "cv_ljungbox": _sql_ljungbox(),
        "cv_skill_score": _sql_skill_score(),
        "cv_quantile_loss": _sql_quantile_loss(),
        "cv_pbo": _sql_pbo(),
        "cv_mincer_zarnowitz": _sql_mincer_zarnowitz(),
        "cv_adversarial_auc": _sql_adversarial_auc(),
        "feat_adf_test": _sql_adf_test(),
        "cv_purge_effect": _sql_purge_effect(),
        "cv_loco_importance": _sql_loco_importance(),
        "cv_forecast_combo": _sql_forecast_combo(),
        "feat_kpss_test": _sql_kpss_test(),
        "feat_variance_ratio": _sql_variance_ratio(),
        "cv_coef_stability": _sql_coef_stability(),
        "feat_pacf": _sql_pacf(),
        "cv_mase": _sql_mase(),
    }

