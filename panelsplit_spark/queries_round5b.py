"""Query registry, part 13 (round 5, continued), thirty queries:

* inequality / drift audits — ``dq_gini`` (exact Gini concentration
  per segment from the rank-sum identity), ``dq_ks_test`` (exact
  two-sample Kolmogorov–Smirnov, one-vs-rest per segment, integer
  numerator);
* regression algebra — ``feat_group_ols2`` (per-group TWO-regressor
  OLS via Cramer's rule over exact integer moments),
  ``cv_learning_curve`` (held-out MSE at four nested training
  fractions from ONE scan — cumulative sufficient statistics, SSE by
  moment expansion, no per-row residual pass),
  ``cv_conformal_interval`` (split-conformal prediction interval with
  the coverage guarantee verified on a held-out split; the conformal
  quantile is an exact integer order statistic);
* experimentation — ``cv_cuped`` (CUPED variance-reduced A/B lift,
  zero joins: one filtered-aggregate row);
* sampling — ``pipe_weighted_reservoir`` (Efraimidis–Spirakis
  exact-k weighted reservoir as a TakeOrdered plan);
* dedup — ``dedup_incremental`` (steady-state ingest admission
  against a corpus LSH band index — the daily-run shape whose
  bootstrap is ``dedup_minhash_lsh``), ``dedup_survivorship``
  (golden record per duplicate cluster: rule-based attribute
  selection after connected components);
* time series — ``feat_acf`` (daily-series autocorrelation at
  calendar lags, gap-aware via an explicit date equi-join);
* experimentation — ``cv_power_mde`` (per-segment minimum detectable
  effect from one filtered aggregate);
* streaming — ``stream_reservoir`` (the 19th gate: chop-invariant
  weighted reservoir state, batch oracle verbatim), ``stream_mde``
  (the 20th: mergeable experiment moments, one keyed SUM per batch);
* curation analytics — ``pipe_rule_ablation`` (leave-one-out filter
  impact from one aggregate over the rule bitmask),
  ``dq_referential`` (cross-table FK orphan audit),
  ``dedup_source_matrix`` (which sources copy from each other),
  ``pipe_contrastive_triplets`` (anchor/positive/negative mining with
  provably-non-candidate negatives);
* panel CV — ``ps_cpcv_folds`` (combinatorial purged CV: C(G,k) test
  combinations, purge/embargo exclusion, one fan-out join),
  ``cv_cpcv_paths`` (the C(G−1,k−1) assembled backtest paths, per-path
  OOF MSE of the closed-form fit), ``cv_nested_ridge`` (nested CV as
  pure moment algebra — zero refits, exact integer λ argmin);
* retrieval / NLP — ``text_bm25_topk`` (Okapi BM25 over a
  query-term-only inverted index), ``text_rake_topk`` (RAKE
  keyphrases, fully integer-exact);
* robust fitting — ``cv_huber_irls`` (transcendental-free IRLS),
  ``dq_seasonal_anomaly`` (per-hour robust-MAD anomaly audit);
* late additions — ``stream_ks`` (21st gate: monoid count-table
  state), ``pipe_span_corruption`` (T5 masked-span pairs, byte-exact),
  ``emb_kcenter_sample`` (greedy farthest-point coreset),
  ``cv_diff_in_diff`` (2×2 quasi-experimental lift, one aggregate),
  ``sim_knn_graph`` (top-k neighbor graph over LSH candidates),
  ``stream_gini`` (22nd gate: the run-sum identity makes the batch
  gini oracle verbatim over monoid count-table state).

Same cross-engine determinism rules as queries.py: exact-integer
moments before any division (decimal(38,0) ↔ HUGEINT for products
past int64), transcendentals quantized AFTER the call, unrounded
doubles only when both engines compute them from identical integer
inputs in identical operation order, identical aliases everywhere.

Reference parity note: the reference library (4Freye/panelsplit) has
no analytics surface beyond CV splitting/application
(`panelsplit/cross_validation.py`, `pipeline.py`); this part extends
the mandated LLM-pipeline/relational categories (SURVEY.md §2.8) —
the CV-flavored entries (conformal, learning curve, CUPED) follow the
reference's hash-split/closed-form idioms established in
operators/application.py and operators/linear_fastpath.py.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.sampling import _BP, duckdb_hash_bucket, hash_bucket
from .sources.tables import load_table

# ======================================================================
# dq_gini — exact Gini concentration per order-priority segment
# ======================================================================


def q_dq_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration audit (operators/quality.gini_by_group):
    exact Gini coefficient of order value per priority segment. One
    in-group rank window + one grouped aggregate — no global sort; the
    coefficient is ONE double division of two exact decimal integers."""
    from .operators.quality import gini_by_group

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderkey").alias("oid"),
    )
    return gini_by_group(orders, ["segment"], "cents", "oid")


_SQL_GINI = """
WITH q AS (
  SELECT o_orderpriority AS segment,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x,
         o_orderkey AS id
  FROM orders
),
r AS (
  SELECT segment, x,
         CAST(row_number() OVER (PARTITION BY segment ORDER BY x, id)
              AS BIGINT) AS i
  FROM q
),
g AS (
  SELECT segment, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS total,
         sum(CAST(i AS HUGEINT) * x) AS a
  FROM r GROUP BY 1
)
SELECT segment, n, total AS total_units,
       CASE WHEN total <> 0 THEN
         (2 * a - CAST(n + 1 AS HUGEINT) * total)::DOUBLE
           / (CAST(n AS HUGEINT) * total)::DOUBLE
       END AS gini
FROM g
"""


# ======================================================================
# dq_ks_test — exact two-sample KS, each event type vs pooled rest
# ======================================================================


def q_dq_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binning-free drift test (operators/quality.ks_one_vs_rest):
    exact KS statistic of each event type's value distribution against
    the pooled rest. The scan reduces to a (segment, value) count
    table; D's numerator stays integer, so the statistic is ONE double
    division and λ adds only sqrt (exact cross-engine)."""
    from .operators.quality import ks_one_vs_rest

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).where(F.col("cents").isNotNull())
    return ks_one_vs_rest(ev, "event_type", "cents")


_SQL_KS = """
WITH q AS (
  SELECT event_type AS segment,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
  WHERE CAST(round(value * 100) AS BIGINT) IS NOT NULL
),
c AS (
  SELECT segment, v, CAST(count(*) AS BIGINT) AS c
  FROM q GROUP BY 1, 2
),
segs AS (
  SELECT segment, CAST(sum(c) AS BIGINT) AS n_seg FROM c GROUP BY 1
),
vals AS (SELECT DISTINCT v FROM c),
grid AS (SELECT s.segment, s.n_seg, vals.v FROM segs s CROSS JOIN vals),
j AS (
  SELECT g.segment, g.n_seg, g.v, COALESCE(c.c, 0) AS c
  FROM grid g LEFT JOIN c ON c.segment = g.segment AND c.v = g.v
),
tot AS (SELECT v, CAST(sum(c) AS BIGINT) AS cv FROM c GROUP BY 1),
ca AS (
  SELECT v, CAST(sum(cv) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS cum_all
  FROM tot
),
cum AS (
  SELECT j.segment, j.n_seg,
         CAST(sum(j.c) OVER (PARTITION BY j.segment ORDER BY j.v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS BIGINT) AS cum_seg,
         ca.cum_all
  FROM j JOIN ca ON ca.v = j.v
),
nall AS (SELECT CAST(sum(n_seg) AS BIGINT) AS n_all FROM segs),
t AS (
  SELECT segment, n_seg, n_all - n_seg AS n_rest,
         abs(CAST(cum_seg AS HUGEINT) * (n_all - n_seg)
             - CAST(cum_all - cum_seg AS HUGEINT) * n_seg) AS dn
  FROM cum CROSS JOIN nall
),
p AS (
  SELECT segment, n_seg, n_rest, max(dn) AS dnum
  FROM t GROUP BY 1, 2, 3
)
SELECT segment, n_seg, n_rest, CAST(dnum AS BIGINT) AS d_num,
       dnum::DOUBLE / (CAST(n_seg AS HUGEINT) * n_rest)::DOUBLE AS ks_d,
       dnum::DOUBLE / (CAST(n_seg AS HUGEINT) * n_rest)::DOUBLE
         * sqrt((CAST(n_seg AS HUGEINT) * n_rest)::DOUBLE
                / (n_seg + n_rest)::DOUBLE) AS lambda_stat
FROM p
"""


# ======================================================================
# feat_group_ols2 — bivariate OLS per return flag (Cramer's rule)
# ======================================================================


def q_feat_group_ols2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor per-group OLS (operators/timeseries.group_ols2):
    extended price (dollars) on quantity AND discount (percent) per
    return flag. Nine exact integer moments in one grouped aggregate;
    each slope is ONE double division of two decimal-exact integers
    (quantization chosen so the deepest Cramer product stays < 10^38)."""
    from .operators.timeseries import group_ols2

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("long").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").alias("x2"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    return group_ols2(li, ["l_returnflag"], "x1", "x2", "y")


_SQL_OLS2 = """
WITH q AS (
  SELECT l_returnflag,
         CAST(round(l_quantity) AS BIGINT) AS x1,
         CAST(round(l_discount * 100) AS BIGINT) AS x2,
         CAST(round(l_extendedprice) AS BIGINT) AS y
  FROM lineitem
),
g AS (
  SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x1) AS BIGINT) AS sx1,
         CAST(sum(x2) AS BIGINT) AS sx2,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x1 * x1) AS BIGINT) AS sx1x1,
         CAST(sum(x1 * x2) AS BIGINT) AS sx1x2,
         CAST(sum(x2 * x2) AS BIGINT) AS sx2x2,
         CAST(sum(x1 * y) AS BIGINT) AS sx1y,
         CAST(sum(x2 * y) AS BIGINT) AS sx2y
  FROM q GROUP BY 1
),
m AS (
  SELECT *,
         CAST(n AS HUGEINT) * sx1x1 - CAST(sx1 AS HUGEINT) * sx1 AS a11,
         CAST(n AS HUGEINT) * sx1x2 - CAST(sx1 AS HUGEINT) * sx2 AS a12,
         CAST(n AS HUGEINT) * sx2x2 - CAST(sx2 AS HUGEINT) * sx2 AS a22,
         CAST(n AS HUGEINT) * sx1y - CAST(sx1 AS HUGEINT) * sy AS b1n,
         CAST(n AS HUGEINT) * sx2y - CAST(sx2 AS HUGEINT) * sy AS b2n
  FROM g
),
sl AS (
  SELECT *, a11 * a22 - a12 * a12 AS det,
         CASE WHEN a11 * a22 - a12 * a12 <> 0 THEN
           (a22 * b1n - a12 * b2n)::DOUBLE
             / (a11 * a22 - a12 * a12)::DOUBLE
         END AS b1,
         CASE WHEN a11 * a22 - a12 * a12 <> 0 THEN
           (a11 * b2n - a12 * b1n)::DOUBLE
             / (a11 * a22 - a12 * a12)::DOUBLE
         END AS b2
  FROM m
)
SELECT l_returnflag, n, sx1, sx2, sy, b1, b2,
       CASE WHEN det <> 0 THEN
         (sy::DOUBLE - b1 * sx1::DOUBLE - b2 * sx2::DOUBLE) / n::DOUBLE
       END AS b0
FROM sl
"""


# ======================================================================
# cv_cuped — CUPED variance-reduced A/B lift (zero joins)
# ======================================================================

_CUPED_CUTOFF = "2024-01-16 00:00:00"
_CUPED_SALT = "cuped"


def q_cv_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted treatment effect (operators/evaluation.
    cuped_adjust): per-user pre-period spend (x, cents before Jan 16)
    and post-period spend (y, after) roll up in one groupBy; treatment
    arms come from the content-addressed hash split; the estimator is
    ONE filtered-aggregate row — the cheapest possible 100 TB shape
    (no joins, no windows, no second scan)."""
    from .operators.evaluation import cuped_adjust

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    pre = F.col("ts") < F.lit(_CUPED_CUTOFF).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(pre, cents).otherwise(F.lit(0))).alias("x"),
        F.sum(F.when(~pre, cents).otherwise(F.lit(0))).alias("y"),
    ).withColumn(
        "treated",
        (hash_bucket(F.col("user_id"), _CUPED_SALT) < _BP // 2).cast(
            "int"
        ),
    )
    return cuped_adjust(per_user, "x", "y", "treated")


def _sql_cuped() -> str:
    bucket = duckdb_hash_bucket("user_id", _CUPED_SALT)
    return f"""
WITH pu AS (
  SELECT user_id,
         CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN NOT (ts < TIMESTAMP '{_CUPED_CUTOFF}')
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY 1
),
t AS (
  SELECT x, y,
         CASE WHEN {bucket} < {_BP // 2} THEN 1 ELSE 0 END AS treated
  FROM pu
),
g AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(y AS HUGEINT) * y) AS syy,
         CAST(count(*) FILTER (WHERE treated = 1) AS BIGINT) AS n_t,
         CAST(sum(x) FILTER (WHERE treated = 1) AS BIGINT) AS sx_t,
         CAST(sum(y) FILTER (WHERE treated = 1) AS BIGINT) AS sy_t
  FROM t
),
m AS (
  SELECT *,
         CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cxy,
         CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS vx,
         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vy,
         n - n_t AS n_c
  FROM g
),
f AS (
  SELECT *,
         CASE WHEN vx <> 0 THEN cxy::DOUBLE / vx::DOUBLE END AS theta,
         sy_t::DOUBLE / n_t::DOUBLE
           - (sy - sy_t)::DOUBLE / n_c::DOUBLE AS diff_raw,
         sx_t::DOUBLE / n_t::DOUBLE
           - (sx - sx_t)::DOUBLE / n_c::DOUBLE AS xdiff
  FROM m
)
SELECT n_t, n_c, theta, diff_raw,
       CASE WHEN vx <> 0 THEN diff_raw - theta * xdiff END AS diff_cuped,
       CASE WHEN vx <> 0 THEN
         cxy::DOUBLE * cxy::DOUBLE / (vx::DOUBLE * vy::DOUBLE)
       END AS rho2
FROM f
"""


# ======================================================================
# pipe_weighted_reservoir — exact-k weighted sample as TakeOrdered
# ======================================================================

_RES_K = 50
_RES_SALT = "res"


def q_pipe_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional exact-k document sample (operators/sampling.
    weighted_reservoir_topk): Efraimidis–Spirakis keys from the
    content hash, top-k by the micro-quantized ln(u)/w key with id
    tiebreak. The plan is a TakeOrdered — per-partition top-k, only
    k·n_partitions rows move."""
    from .operators.sampling import weighted_reservoir_topk

    docs = load_table(spark, sf_dir, "documents")
    return weighted_reservoir_topk(
        docs, "doc_id", "n_chars", _RES_K, salt=_RES_SALT
    )


def _sql_weighted_reservoir() -> str:
    bucket = duckdb_hash_bucket("doc_id", _RES_SALT)
    return f"""
WITH q AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS weight,
         CAST(round(ln((2 * ({bucket}) + 1)::DOUBLE / {float(2 * _BP)!r})
              / CAST(n_chars AS BIGINT)::DOUBLE * 1e6) AS BIGINT)
           AS score_micro
  FROM documents
  WHERE CAST(n_chars AS BIGINT) > 0
)
SELECT doc_id, weight, score_micro
FROM q ORDER BY score_micro DESC, doc_id LIMIT {_RES_K}
"""

# ======================================================================
# cv_conformal_interval — split-conformal OLS with verified coverage
# ======================================================================

_CONF_SALT = "conformal"
_CONF_ALPHA_BP = 1000  # α = 0.10 → target coverage 90%


def q_cv_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal interval around the closed-form OLS of extended
    price (cents) on quantity (operators/evaluation.
    split_conformal_ols): hash-split train/calibration/test, exact
    integer-moment fit, milli-unit nonconformity scores, conformal
    quantile as an exact order statistic, coverage verified on test.
    The only sort in the plan is the calibration split's single
    integer column."""
    from .operators.evaluation import split_conformal_ols

    li = load_table(spark, sf_dir, "lineitem").select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("#"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        F.round(F.col("l_quantity")).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    return split_conformal_ols(
        li, "rid", "x", "y", alpha_bp=_CONF_ALPHA_BP, salt=_CONF_SALT
    )


def _sql_conformal() -> str:
    bucket = duckdb_hash_bucket("rid", _CONF_SALT)
    keep_bp = _BP - _CONF_ALPHA_BP
    return f"""
WITH base AS (
  SELECT concat(CAST(l_orderkey AS VARCHAR), '#',
                CAST(l_linenumber AS VARCHAR)) AS rid,
         CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
b AS (SELECT *, {bucket} AS bk FROM base),
fitm AS (
  SELECT CAST(count(*) AS BIGINT) AS n_train,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * y) AS sxy
  FROM b WHERE bk < {_BP // 2}
),
fit AS (
  SELECT n_train,
         (CAST(n_train AS HUGEINT) * sxy
            - CAST(sx AS HUGEINT) * sy)::DOUBLE
           / (CAST(n_train AS HUGEINT) * sxx
              - CAST(sx AS HUGEINT) * sx)::DOUBLE AS b1,
         sx, sy
  FROM fitm
),
fit2 AS (
  SELECT n_train, b1,
         (sy::DOUBLE - b1 * sx::DOUBLE) / n_train::DOUBLE AS b0
  FROM fit
),
cal AS (
  SELECT b.rid,
         CAST(round(abs(b.y::DOUBLE
              - (f.b0 + f.b1 * b.x::DOUBLE)) * 1000.0) AS BIGINT)
           AS score_mu
  FROM b CROSS JOIN fit2 f
  WHERE b.bk >= {_BP // 2} AND b.bk < {3 * _BP // 4}
),
nc AS (
  SELECT CAST(count(*) AS BIGINT) AS n_cal,
         least(CAST(floor(((count(*) + 1) * {keep_bp} + {_BP - 1})
                    / {_BP}) AS BIGINT),
               CAST(count(*) AS BIGINT)) AS k
  FROM cal
),
rk AS (
  SELECT score_mu,
         CAST(row_number() OVER (ORDER BY score_mu, rid) AS BIGINT)
           AS r
  FROM cal
),
qh AS (
  SELECT nc.n_cal, nc.k, rk.score_mu AS qhat_mu
  FROM rk CROSS JOIN nc WHERE rk.r = nc.k
),
te AS (
  SELECT b.rid,
         CAST(round(abs(b.y::DOUBLE
              - (f.b0 + f.b1 * b.x::DOUBLE)) * 1000.0) AS BIGINT)
           AS score_mu
  FROM b CROSS JOIN fit2 f
  WHERE b.bk >= {3 * _BP // 4}
),
cov AS (
  SELECT CAST(count(*) AS BIGINT) AS n_test,
         any_value(q.n_cal) AS n_cal,
         any_value(q.k) AS k,
         any_value(q.qhat_mu) AS qhat_mu,
         CAST(sum(CASE WHEN te.score_mu <= q.qhat_mu THEN 1 ELSE 0 END)
              AS BIGINT) AS n_covered
  FROM te CROSS JOIN qh q
)
SELECT f.n_train, c.n_cal, c.n_test, c.k, c.qhat_mu, c.n_covered,
       c.n_covered::DOUBLE / c.n_test::DOUBLE AS coverage
FROM cov c CROSS JOIN fit2 f
"""


# ======================================================================
# cv_learning_curve — nested-fraction OLS curve from one scan
# ======================================================================

_LC_SALT = "lcurve"
_LC_CUTS = (1000, 2000, 4000, 8000)
_LC_TEST_LO = 9000


def q_cv_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve of the price-on-quantity OLS (operators/
    evaluation.learning_curve_ols): per hash-band sufficient statistics
    roll up cumulatively for four nested training fractions, and the
    held-out MSE expands in the test split's own moments — the whole
    curve from ONE aggregation, no per-row residual pass, no refits."""
    from .operators.evaluation import learning_curve_ols

    li = load_table(spark, sf_dir, "lineitem").select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("#"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        F.round(F.col("l_quantity")).cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    return learning_curve_ols(
        li, "rid", "x", "y",
        cuts_bp=_LC_CUTS, test_lo_bp=_LC_TEST_LO, salt=_LC_SALT,
    )


def _sql_learning_curve() -> str:
    bucket = duckdb_hash_bucket("rid", _LC_SALT)
    c1, c2, c3, c4 = _LC_CUTS
    return f"""
WITH base AS (
  SELECT concat(CAST(l_orderkey AS VARCHAR), '#',
                CAST(l_linenumber AS VARCHAR)) AS rid,
         CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
),
bd AS (
  SELECT x, y,
         CASE WHEN {bucket} >= {_LC_TEST_LO} THEN 0
              WHEN {bucket} < {c1} THEN 1
              WHEN {bucket} < {c2} THEN 2
              WHEN {bucket} < {c3} THEN 3
              WHEN {bucket} < {c4} THEN 4
         END AS band
  FROM base
),
g AS (
  SELECT band, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM bd WHERE band IS NOT NULL GROUP BY 1
),
tr AS (
  SELECT band,
         CAST(sum(n) OVER w AS BIGINT) AS n,
         CAST(sum(sx) OVER w AS BIGINT) AS sx,
         CAST(sum(sy) OVER w AS BIGINT) AS sy,
         sum(sxx) OVER w AS sxx,
         sum(sxy) OVER w AS sxy
  FROM g WHERE band > 0
  WINDOW w AS (ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
),
te AS (
  SELECT n AS tn, sx AS tsx, sy AS tsy, sxx AS tsxx, sxy AS tsxy,
         syy AS tsyy
  FROM g WHERE band = 0
),
sl AS (
  SELECT tr.band, tr.n, tr.sx, tr.sy,
         (CAST(tr.n AS HUGEINT) * tr.sxy
            - CAST(tr.sx AS HUGEINT) * tr.sy)::DOUBLE
           / (CAST(tr.n AS HUGEINT) * tr.sxx
              - CAST(tr.sx AS HUGEINT) * tr.sx)::DOUBLE AS b1,
         te.tn, te.tsx, te.tsy, te.tsxx, te.tsxy, te.tsyy
  FROM tr CROSS JOIN te
),
sl2 AS (
  SELECT *, (sy::DOUBLE - b1 * sx::DOUBLE) / n::DOUBLE AS b0
  FROM sl
)
SELECT ([{c1}, {c2}, {c3}, {c4}])[band] AS cut_bp,
       n AS n_train, b1 AS slope, b0 AS intercept,
       (tsyy::DOUBLE - 2.0 * b0 * tsy::DOUBLE - 2.0 * b1 * tsxy::DOUBLE
        + tn::DOUBLE * b0 * b0 + 2.0 * b0 * b1 * tsx::DOUBLE
        + b1 * b1 * tsxx::DOUBLE) / tn::DOUBLE AS test_mse
FROM sl2
"""


# ======================================================================
# dedup_incremental — steady-state ingest vs corpus LSH band index
# ======================================================================

_INC_SALT = "inc"
_INC_CORPUS_BP = 8000  # 80% corpus / 20% incoming batch


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-ingest admission (operators/dedup.incremental_band_dedup):
    the corpus (80% hash split) contributes only its DISTINCT MinHash
    band index; the incoming 20% batch is admitted / rejected per doc —
    ``dup_corpus`` on any band hit, ``dup_batch`` on a surviving
    exact-text twin with a smaller id, else ``admitted``. Steady-state
    cost is one equi-join of batch bands against the index: no corpus
    re-pairing, no corpus text re-scan."""
    from .operators.dedup import incremental_band_dedup
    from .queries_data import MH_BAND, MH_HASHES, MH_SHINGLE

    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id"), _INC_SALT)
    corpus = docs.where(b < _INC_CORPUS_BP)
    batch = docs.where(b >= _INC_CORPUS_BP)
    return incremental_band_dedup(
        corpus, batch,
        n_hashes=MH_HASHES, band_size=MH_BAND, shingle_n=MH_SHINGLE,
    )


def _sql_incremental() -> str:
    from .functions.hashing import MINHASH_P, minhash_params
    from .queries_data import (
        MH_BAND,
        MH_HASHES,
        MH_SHINGLE,
        _duck_shingles,
        _DUCK_TOKS,
    )

    bucket = duckdb_hash_bucket("doc_id", _INC_SALT)
    params = minhash_params(MH_HASHES)
    h = (
        "(CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) "
        f"% {MINHASH_P})"
    )
    sig_aggs = ",\n    ".join(
        f"min(({a} * {h} + {b}) % {MINHASH_P}) AS sig_{j}"
        for j, (a, b) in enumerate(params)
    )
    n_bands = MH_HASHES // MH_BAND
    band_selects = []
    for bb in range(n_bands):
        cols = [
            f"CAST(sig_{j} AS VARCHAR)"
            for j in range(bb * MH_BAND, (bb + 1) * MH_BAND)
        ]
        band_selects.append(
            f"SELECT doc_id, {bb} AS band_id, "
            + " || '|' || ".join(cols)
            + " AS band_sig FROM sigs"
        )
    bands_union = "\n  UNION ALL\n".join(band_selects)
    return f"""
WITH split AS (
  SELECT doc_id, text, ({bucket}) < {_INC_CORPUS_BP} AS in_corpus
  FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct({_duck_shingles(MH_SHINGLE)})) AS s
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
),
sigs AS (
  SELECT doc_id,
    {sig_aggs}
  FROM sh GROUP BY doc_id
),
bands AS (
  {bands_union}
),
corpus_index AS (
  SELECT DISTINCT b.band_id, b.band_sig
  FROM bands b JOIN split s USING (doc_id) WHERE s.in_corpus
),
dupc AS (
  SELECT DISTINCT b.doc_id
  FROM bands b
  JOIN split s USING (doc_id)
  JOIN corpus_index ci
    ON ci.band_id = b.band_id AND ci.band_sig = b.band_sig
  WHERE NOT s.in_corpus
),
flag AS (
  SELECT s.doc_id, md5(s.text) AS content_hash,
         (dc.doc_id IS NOT NULL) AS dupc
  FROM split s LEFT JOIN dupc dc ON dc.doc_id = s.doc_id
  WHERE NOT s.in_corpus
)
SELECT doc_id, content_hash,
       CASE WHEN dupc THEN 'dup_corpus'
            WHEN doc_id = min(CASE WHEN NOT dupc THEN doc_id END)
                 OVER (PARTITION BY content_hash) THEN 'admitted'
            ELSE 'dup_batch'
       END AS status
FROM flag
"""


# ======================================================================
# feat_acf — daily-revenue autocorrelation at calendar lags 1..7
# ======================================================================

_ACF_MAX_LAG = 7


def q_feat_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-seasonality screen (operators/timeseries.acf_lags):
    Pearson autocorrelation of the daily order-revenue series at
    calendar lags 1..7. Pairs match by an explicit date equi-join (gap
    days drop out, reported via n_pairs); each lag's correlation is
    fixed-order double algebra over exact decimal moments."""
    from .operators.timeseries import acf_lags

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return acf_lags(orders, "day", "cents", max_lag=_ACF_MAX_LAG)


_SQL_ACF = f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS v
  FROM orders GROUP BY 1
),
lags AS (
  SELECT CAST(unnest(generate_series(1, {_ACF_MAX_LAG})) AS INTEGER)
    AS lag
),
r AS (
  SELECT day + CAST(lag AS INTEGER) AS mday, lag, v AS y
  FROM daily CROSS JOIN lags
),
p AS (
  SELECT r.lag, l.v AS x, r.y
  FROM daily l JOIN r ON l.day = r.mday
),
g AS (
  SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM p GROUP BY 1
),
m AS (
  SELECT *,
         CAST(n_pairs AS HUGEINT) * sxy
           - CAST(sx AS HUGEINT) * sy AS num,
         CAST(n_pairs AS HUGEINT) * sxx
           - CAST(sx AS HUGEINT) * sx AS vx,
         CAST(n_pairs AS HUGEINT) * syy
           - CAST(sy AS HUGEINT) * sy AS vy
  FROM g
)
SELECT lag, n_pairs,
       CASE WHEN vx > 0 AND vy > 0 THEN
         num::DOUBLE / (sqrt(vx::DOUBLE) * sqrt(vy::DOUBLE))
       END AS acf
FROM m ORDER BY lag
"""


# ======================================================================
# cv_power_mde — minimum detectable effect per event type
# ======================================================================

_MDE_SALT = "mde"


def q_cv_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-sizing audit (operators/evaluation.power_mde):
    per-event-type minimum detectable effect at α=0.05 / power=0.80
    with arms assigned by the user-id content hash — one filtered
    aggregate, variance from exact integer moments, z quantiles as
    shared double literals."""
    from .operators.evaluation import power_mde

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (hash_bucket(F.col("user_id"), _MDE_SALT) < _BP // 2).cast(
            "int"
        ).alias("treated"),
    )
    return power_mde(ev, ["event_type"], "cents", "treated")


def _sql_power_mde() -> str:
    from .operators.evaluation import Z_ALPHA_975, Z_POWER_80

    zsum = Z_ALPHA_975 + Z_POWER_80
    bucket = duckdb_hash_bucket("user_id", _MDE_SALT)
    return f"""
WITH q AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y,
         CASE WHEN {bucket} < {_BP // 2} THEN 1 ELSE 0 END AS treated
  FROM events
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(y AS HUGEINT) * y) AS syy,
         CAST(count(*) FILTER (WHERE treated = 1) AS BIGINT) AS n_t
  FROM q GROUP BY 1
),
m AS (
  SELECT *, n - n_t AS n_c,
         CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vnum
  FROM g
),
f AS (
  SELECT *,
         vnum::DOUBLE / (n::DOUBLE * (n::DOUBLE - 1.0)) AS var_units,
         sy::DOUBLE / n::DOUBLE AS mean_units
  FROM m
)
SELECT event_type, n_t, n_c, mean_units,
       CASE WHEN n > 1 THEN var_units END AS var_units,
       CASE WHEN n_t > 0 AND n_c > 0 AND n > 1 THEN
         {zsum!r} * sqrt(var_units
           * (1.0 / n_t::DOUBLE + 1.0 / n_c::DOUBLE))
       END AS mde_abs,
       CASE WHEN n_t > 0 AND n_c > 0 AND n > 1 AND sy <> 0 THEN
         {zsum!r} * sqrt(var_units
           * (1.0 / n_t::DOUBLE + 1.0 / n_c::DOUBLE)) / mean_units
       END AS mde_rel
FROM f
"""


# ======================================================================
# stream_reservoir — the 19th streaming gate
# ======================================================================

_SRES_BATCHES = 3


def q_stream_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming weighted reservoir (streaming/rolling.
    stream_weighted_reservoir): the documents feed arrives as three
    deterministic micro-batches; each folds its own TakeOrdered top-k
    into the ≤k-row running state. Top-k by the content-hashed
    Efraimidis–Spirakis key is a semilattice fold (chop-invariant,
    ties broken by id), so the drained state equals the batch operator
    over the whole feed — the SQL oracle of pipe_weighted_reservoir
    applies verbatim."""
    from .sources.tables import configure
    from .streaming.rolling import (
        chop_n,
        drain,
        feed_stream,
        stream_weighted_reservoir,
    )

    configure(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    name = "stream_reservoir_sink"
    n = chop_n(_SRES_BATCHES)
    sample = drain(spark, name, lambda: stream_weighted_reservoir(
        feed_stream(docs, F.col("doc_id") % n, n, "reservoir_feed"),
        "doc_id", "n_chars", _RES_K, salt=_RES_SALT, query_name=name,
    ))
    return sample.orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc()
    )


# ======================================================================
# dedup_survivorship — golden record per duplicate cluster
# ======================================================================


def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution completion (operators/dedup.
    survivorship_golden): MinHash-LSH pairs → connected components →
    one canonical row per cluster with rule-based attribute selection
    (longest member wins, plurality language with a total-order
    tiebreak, redundancy/source-span audit facts). The oracle replays
    the clusters with the same recursive-CTE transitive closure as
    dedup_clusters and the survivorship rules as window ranks."""
    from .operators import dedup
    from .queries_data import MH_BAND, MH_HASHES, MH_SHINGLE

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, n_hashes=MH_HASHES, shingle_n=MH_SHINGLE
    )
    pairs = dedup.lsh_candidate_pairs(
        sigs, n_hashes=MH_HASHES, band_size=MH_BAND
    )
    clusters = dedup.connected_components(pairs)
    return dedup.survivorship_golden(docs, clusters)


def _sql_survivorship() -> str:
    from .queries_nlp import _sql_dedup_clusters

    # _sql_dedup_clusters is a full WITH RECURSIVE ... SELECT; reuse it
    # as the cluster CTE body by nesting it as a subquery
    clusters = _sql_dedup_clusters().strip()
    return f"""
WITH cl AS (
  {clusters}
),
members AS (
  SELECT cl.cluster, d.doc_id, d.n_chars, d.lang, d.source
  FROM cl JOIN documents d ON d.doc_id = cl.id
),
best AS (
  SELECT cluster, doc_id AS canonical_id,
         CAST(n_chars AS BIGINT) AS canonical_chars
  FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster
             ORDER BY n_chars DESC, doc_id) AS rk
    FROM members
  ) WHERE rk = 1
),
lc AS (
  SELECT cluster, lang, count(*) AS c
  FROM members GROUP BY 1, 2
),
tl AS (
  SELECT cluster, lang AS top_lang
  FROM (
    SELECT *, row_number() OVER (PARTITION BY cluster
             ORDER BY c DESC, lang) AS rk
    FROM lc
  ) WHERE rk = 1
),
facts AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS total_chars
  FROM members GROUP BY 1
)
SELECT f.cluster, f.n_members, b.canonical_id, b.canonical_chars,
       t.top_lang, f.n_sources, f.total_chars
FROM facts f
JOIN best b ON b.cluster = f.cluster
JOIN tl t ON t.cluster = f.cluster
"""


# ======================================================================
# pipe_rule_ablation — leave-one-out quality-filter impact
# ======================================================================


def q_pipe_rule_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-tuning report (operators/quality.rule_ablation): per
    Gopher rule, fail counts, sole-blocker counts (docs reclaimed by
    dropping just that rule) and pass rates with/without — the whole
    leave-one-out matrix from ONE aggregate over the rule bitmask."""
    from .operators.quality import gopher_rules, rule_ablation
    from .queries_curate import GOPHER_MIN_WORDS

    docs = load_table(spark, sf_dir, "documents")
    flagged = gopher_rules(docs, "text", min_words=GOPHER_MIN_WORDS)
    return rule_ablation(flagged, "fail_mask", n_rules=7)


def _sql_rule_ablation() -> str:
    from .queries_curate import _sql_gopher_rules

    per_rule = []
    fails = ",\n         ".join(
        f"CAST(sum(CASE WHEN (fail_mask & {1 << i}) <> 0 THEN 1 ELSE 0"
        f" END) AS BIGINT) AS nf_{i},\n         "
        f"CAST(sum(CASE WHEN fail_mask = {1 << i} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS ns_{i}"
        for i in range(7)
    )
    for i in range(7):
        per_rule.append(
            f"SELECT {i} AS rule_id, n_docs, n_pass, nf_{i} AS n_fail,"
            f" ns_{i} AS n_sole_blocker,"
            f" n_pass::DOUBLE / n_docs::DOUBLE AS pass_rate,"
            f" (n_pass + ns_{i})::DOUBLE / n_docs::DOUBLE"
            f" AS pass_rate_without FROM agg"
        )
    unions = "\n  UNION ALL\n  ".join(per_rule)
    return f"""
WITH g AS ({_sql_gopher_rules()}),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN fail_mask = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass,
         {fails}
  FROM g
)
SELECT * FROM (
  {unions}
) ORDER BY rule_id
"""


# ======================================================================
# dq_referential — cross-table foreign-key orphan audit
# ======================================================================

_FK_EDGES = [
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
]


def q_dq_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key integrity audit (operators/quality.
    referential_audit) over the five fact/dimension edges of the
    schema: orphan child rows per relationship, each edge one keyed
    join + one aggregate (parent payload never moves — only its
    deduplicated key column)."""
    from .operators.quality import referential_audit

    edges = [
        (name,
         load_table(spark, sf_dir, child_t), child_k,
         load_table(spark, sf_dir, parent_t), parent_k)
        for name, child_t, child_k, parent_t, parent_k in _FK_EDGES
    ]
    return referential_audit(edges)


def _sql_referential() -> str:
    parts = []
    for name, child_t, child_k, parent_t, parent_k in _FK_EDGES:
        parts.append(f"""SELECT '{name}' AS relationship,
       CAST(count(*) AS BIGINT) AS n_child,
       CAST(count(DISTINCT c.{child_k}) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN p.__pk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_orphans,
       sum(CASE WHEN p.__pk IS NULL THEN 1 ELSE 0 END)::DOUBLE
         / count(*)::DOUBLE AS orphan_rate
FROM {child_t} c
LEFT JOIN (SELECT DISTINCT {parent_k} AS __pk FROM {parent_t}) p
  ON p.__pk = c.{child_k}""")
    unions = "\nUNION ALL\n".join(parts)
    return f"""
SELECT * FROM (
{unions}
) ORDER BY relationship
"""


# ======================================================================
# stream_mde — the 20th streaming gate (mergeable moment state)
# ======================================================================

_SMDE_BATCHES = 3


def q_stream_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming experiment-sizing monitor (streaming/rolling.
    stream_mde_moments): the events feed arrives as three
    deterministic micro-batches; each batch's (n, Σy, Σy², n_t) moment
    frame folds into the running state with one keyed SUM — pure sums
    are trivially chop-invariant, so the MDE computed from the drained
    state must hash-match the batch cv_power_mde oracle verbatim."""
    from .operators.evaluation import mde_from_moments
    from .sources.tables import configure
    from .streaming.rolling import (
        chop_n,
        drain,
        feed_stream,
        stream_mde_moments,
    )

    configure(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (hash_bucket(F.col("user_id"), _MDE_SALT) < _BP // 2).cast(
            "int"
        ).alias("treated"),
    )
    name = "stream_mde_sink"
    n = chop_n(_SMDE_BATCHES)
    moments = drain(spark, name, lambda: stream_mde_moments(
        feed_stream(ev, F.col("event_id") % n, n, "mde_feed"),
        ["event_type"], "cents", "treated", query_name=name,
    ))
    return mde_from_moments(moments, ["event_type"])


# ======================================================================
# dedup_source_matrix — which sources duplicate each other
# ======================================================================


def q_dedup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: MinHash-LSH near-dup pairs
    rolled up by the (unordered) source pair — the curation report that
    says which feeds copy from each other (mirrors, syndication,
    scraper overlap) and how much of each source is redundant
    cross-source vs within-source. One join of the pair list against
    the doc→source map per side, then a keyed count; the pair list is
    the already-bounded LSH candidate set, never all-pairs."""
    from .operators import dedup
    from .queries_data import MH_BAND, MH_HASHES, MH_SHINGLE

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, n_hashes=MH_HASHES, shingle_n=MH_SHINGLE
    )
    pairs = dedup.lsh_candidate_pairs(
        sigs, n_hashes=MH_HASHES, band_size=MH_BAND
    )
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("id_a"),
                F.col("source").alias("src_a"),
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"),
                F.col("source").alias("src_b"),
            ),
            "id_b",
        )
        .select(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
    )
    return labeled.groupBy("source_lo", "source_hi").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def _sql_source_matrix() -> str:
    from .queries_data import _sql_minhash_lsh

    return f"""
WITH pairs AS (
  {_sql_minhash_lsh().strip()}
),
lab AS (
  SELECT least(da.source, db.source) AS source_lo,
         greatest(da.source, db.source) AS source_hi
  FROM pairs
  JOIN documents da ON da.doc_id = pairs.id_a
  JOIN documents db ON db.doc_id = pairs.id_b
)
SELECT source_lo, source_hi, CAST(count(*) AS BIGINT) AS n_pairs
FROM lab GROUP BY 1, 2
"""


# ======================================================================
# pipe_contrastive_triplets — training-pair mining for embeddings
# ======================================================================


def q_pipe_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets (operators/sampling.
    contrastive_triplets): positives from MinHash-LSH near-dup pairs,
    negatives by the deterministic antipodal rank pick, verified
    non-candidates via a two-key anti-join. Rank assignment uses the
    distributed range-bucket dense key — no single-partition sort."""
    from .operators import dedup
    from .operators.sampling import contrastive_triplets
    from .queries_data import MH_BAND, MH_HASHES, MH_SHINGLE

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, n_hashes=MH_HASHES, shingle_n=MH_SHINGLE
    )
    pairs = dedup.lsh_candidate_pairs(
        sigs, n_hashes=MH_HASHES, band_size=MH_BAND
    )
    return contrastive_triplets(docs, pairs)


def _sql_contrastive_triplets() -> str:
    from .queries_data import _sql_minhash_lsh

    return f"""
WITH pairs AS (
  {_sql_minhash_lsh().strip()}
),
rk AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS r,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM documents
),
neg AS (
  SELECT a.doc_id AS anchor, b.doc_id AS negative
  FROM rk a JOIN rk b ON b.r = (a.r + a.n // 2) % a.n
),
tri AS (
  SELECT p.id_a AS anchor, p.id_b AS positive, n.negative
  FROM pairs p JOIN neg n ON n.anchor = p.id_a
  WHERE n.negative <> p.id_b AND n.negative <> p.id_a
)
SELECT anchor, positive, negative FROM tri t
WHERE NOT EXISTS (
  SELECT 1 FROM pairs q
  WHERE (q.id_a = t.anchor AND q.id_b = t.negative)
     OR (q.id_a = t.negative AND q.id_b = t.anchor)
)
"""


# ======================================================================
# ps_cpcv_folds — combinatorial purged CV assignment
# ======================================================================

CPCV_G = 6
CPCV_K = 2
CPCV_PURGE = 1
CPCV_EMBARGO = 1


def q_ps_cpcv_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Combinatorial purged CV over the events panel (operators/
    cross_validation.cpcv_panel_assign): every C(6,2)=15 pair of
    period groups is one split's test set, train excludes each test
    block's purge/embargo window — the multi-backtest-path scheme the
    reference's walk-forward surface cannot express. One broadcast
    fan-out join; the oracle replays the array_split block arithmetic
    and the combination list in SQL."""
    from .operators.cross_validation import cpcv_panel_assign

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("period", F.date_format("ts", "yyyy-MM-dd"))
    )
    return (
        cpcv_panel_assign(
            ev, "period", CPCV_G, CPCV_K,
            purge=CPCV_PURGE, embargo=CPCV_EMBARGO,
        )
        .groupBy("split_id", "role")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("period").alias("n_periods"),
            F.min("period").alias("min_period"),
            F.max("period").alias("max_period"),
        )
    )


def _sql_cpcv_folds() -> str:
    from itertools import combinations

    combo_vals = ", ".join(
        f"({sid}, {g})"
        for sid, combo in enumerate(
            combinations(range(CPCV_G), CPCV_K)
        )
        for g in combo
    )
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
         c.tg * (np.n // {CPCV_G}) + LEAST(c.tg, np.n % {CPCV_G})
           AS glo,
         (c.tg + 1) * (np.n // {CPCV_G})
           + LEAST(c.tg + 1, np.n % {CPCV_G}) AS ghi,
         np.n AS n
  FROM combos c, np
),
assign AS (
  SELECT b.split_id, 'test' AS role, u.period
  FROM b JOIN up u ON u.rk >= b.glo AND u.rk < b.ghi
  UNION ALL
  SELECT s.split_id, 'train' AS role, u.period
  FROM (SELECT DISTINCT split_id FROM combos) s
  CROSS JOIN up u
  WHERE NOT EXISTS (
    SELECT 1 FROM b
    WHERE b.split_id = s.split_id
      AND u.rk >= GREATEST(0, b.glo - {CPCV_PURGE})
      AND u.rk < LEAST(b.n, b.ghi + {CPCV_EMBARGO})
  )
),
ev AS (SELECT strftime(ts, '%Y-%m-%d') AS period FROM events)
SELECT a.split_id, a.role, count(*) AS n_rows,
       count(DISTINCT a.period) AS n_periods,
       min(a.period) AS min_period, max(a.period) AS max_period
FROM assign a JOIN ev ON ev.period = a.period
GROUP BY a.split_id, a.role
"""


# ======================================================================
# cv_cpcv_paths — backtest-path MSE distribution from CPCV
# ======================================================================


def q_cv_cpcv_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest-path assembly (operators/cross_validation.
    cpcv_backtest_paths): the C(5,1)=5 complete OOF paths CPCV yields —
    each covers every period group exactly once — scored by the
    closed-form OLS's per-path MSE. The ACROSS-path spread is the
    backtest-variance estimate a single walk-forward cannot produce.
    Two keyed passes of the fact table total, regardless of C(G,k)."""
    from .operators.cross_validation import cpcv_backtest_paths
    from .queries_curate import _MIN_2024

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("period", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn(
            "x",
            F.expr("unix_micros(ts) div 60000000") - F.lit(_MIN_2024),
        )
        .withColumn("y", F.round(F.col("value") * 100).cast("long"))
    )
    return cpcv_backtest_paths(
        ev, "period", "x", "y", CPCV_G, CPCV_K,
        purge=CPCV_PURGE, embargo=CPCV_EMBARGO,
    )


def _sql_cpcv_paths() -> str:
    from itertools import combinations

    from .queries_curate import _MIN_2024

    combo_vals = ", ".join(
        f"({sid}, {g})"
        for sid, combo in enumerate(combinations(range(CPCV_G), CPCV_K))
        for g in combo
    )
    by_group = {}
    for sid, combo in enumerate(combinations(range(CPCV_G), CPCV_K)):
        for g in combo:
            by_group.setdefault(g, []).append(sid)
    path_vals = ", ".join(
        f"({sid}, {g}, {p})"
        for g, sids in by_group.items()
        for p, sid in enumerate(sids)
    )
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
         c.tg * (np.n // {CPCV_G}) + LEAST(c.tg, np.n % {CPCV_G})
           AS glo,
         (c.tg + 1) * (np.n // {CPCV_G})
           + LEAST(c.tg + 1, np.n % {CPCV_G}) AS ghi,
         np.n AS n
  FROM combos c, np
),
assign AS (
  SELECT b.split_id, 'test' AS role, u.period
  FROM b JOIN up u ON u.rk >= b.glo AND u.rk < b.ghi
  UNION ALL
  SELECT s.split_id, 'train' AS role, u.period
  FROM (SELECT DISTINCT split_id FROM combos) s
  CROSS JOIN up u
  WHERE NOT EXISTS (
    SELECT 1 FROM b
    WHERE b.split_id = s.split_id
      AND u.rk >= GREATEST(0, b.glo - {CPCV_PURGE})
      AND u.rk < LEAST(b.n, b.ghi + {CPCV_EMBARGO})
  )
),
ev AS (
  SELECT strftime(ts, '%Y-%m-%d') AS period,
         epoch_us(ts) // 60000000 - {_MIN_2024} AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
fitm AS (
  SELECT a.split_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(e.x) AS BIGINT) AS sx,
         CAST(sum(e.y) AS BIGINT) AS sy,
         sum(CAST(e.x AS HUGEINT) * e.x) AS sxx,
         sum(CAST(e.x AS HUGEINT) * e.y) AS sxy
  FROM assign a JOIN ev e ON e.period = a.period
  WHERE a.role = 'train'
  GROUP BY 1
),
fit AS (
  SELECT split_id,
         (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)::DOUBLE
           / (CAST(n AS HUGEINT) * sxx
              - CAST(sx AS HUGEINT) * sx)::DOUBLE AS b1,
         n, sx, sy
  FROM fitm
),
fit2 AS (
  SELECT split_id, b1,
         (sy::DOUBLE - b1 * sx::DOUBLE) / n::DOUBLE AS b0
  FROM fit
),
gb AS (
  SELECT g.g,
         g.g * (np.n // {CPCV_G}) + LEAST(g.g, np.n % {CPCV_G}) AS glo,
         (g.g + 1) * (np.n // {CPCV_G})
           + LEAST(g.g + 1, np.n % {CPCV_G}) AS ghi
  FROM (SELECT unnest(generate_series(0, {CPCV_G - 1})) AS g) g, np
),
pgrp AS (
  SELECT u.period, gb.g
  FROM up u JOIN gb ON u.rk >= gb.glo AND u.rk < gb.ghi
),
pmap AS (
  SELECT CAST(c0 AS BIGINT) AS split_id, c1 AS g,
         CAST(c2 AS BIGINT) AS path_id
  FROM (VALUES {path_vals}) t(c0, c1, c2)
),
te AS (
  SELECT pm.path_id,
         CAST(round((e.y::DOUBLE - (f.b0 + f.b1 * e.x::DOUBLE))
              * (e.y::DOUBLE - (f.b0 + f.b1 * e.x::DOUBLE))
              * 1000.0) AS BIGINT) AS sq_milli
  FROM assign a
  JOIN ev e ON e.period = a.period
  JOIN fit2 f ON f.split_id = a.split_id
  JOIN pgrp pg ON pg.period = a.period
  JOIN pmap pm ON pm.split_id = a.split_id AND pm.g = pg.g
  WHERE a.role = 'test'
)
SELECT path_id, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(sq_milli AS HUGEINT)) AS BIGINT) AS sse_milli,
       sum(CAST(sq_milli AS HUGEINT))::DOUBLE / count(*)::DOUBLE
         / 1000.0 AS mse
FROM te GROUP BY 1
"""


# ======================================================================
# cv_nested_ridge — nested CV as pure moment algebra, zero refits
# ======================================================================

_NR_LAMBDAS = (0, 1, 10, 100)
_NR_BUCKETS = 4
_NR_SALT = "nested"


def q_cv_nested_ridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested CV (operators/cross_validation.nested_ridge_cv): outer
    walk-forward year bands over l_shipdate, inner content-hash
    buckets, a 4-point ridge λ grid — ALL fits and validations from
    ONE (band × bucket) moment aggregate via moment additivity; inner
    SSEs quantize to exact integers so λ* is an exact argmin. y in
    dollars keeps every SSE below 2^63."""
    from .operators.cross_validation import nested_ridge_cv

    li = load_table(spark, sf_dir, "lineitem").select(
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("#"),
            F.col("l_linenumber").cast("string"),
        ).alias("rid"),
        F.round(F.col("l_quantity")).cast("long").alias("x"),
        F.round(F.col("l_extendedprice")).cast("long").alias("y"),
        F.year("l_shipdate").alias("yr"),
    ).select(
        "rid", "x", "y",
        F.when(F.col("yr") <= 1996, F.lit(0))
        .when(F.col("yr") == 1997, F.lit(1))
        .when(F.col("yr") == 1998, F.lit(2))
        .otherwise(F.lit(3))
        .alias("band"),
        (hash_bucket(F.col("rid"), _NR_SALT) % _NR_BUCKETS).alias(
            "bucket"
        ),
    )
    return nested_ridge_cv(
        li, "band", "bucket", "x", "y",
        n_bands=4, n_buckets=_NR_BUCKETS, lambdas=_NR_LAMBDAS,
    )


def _sql_nested_ridge() -> str:
    bucket = duckdb_hash_bucket("rid", _NR_SALT)
    lam_vals = ", ".join(f"({v})" for v in _NR_LAMBDAS)
    sse = (
        "(syy::DOUBLE - 2.0 * b0 * sy::DOUBLE - 2.0 * b1 * sxy::DOUBLE"
        " + n::DOUBLE * b0 * b0 + 2.0 * b0 * b1 * sx::DOUBLE"
        " + b1 * b1 * sxx::DOUBLE)"
    )
    return f"""
WITH base AS (
  SELECT concat(CAST(l_orderkey AS VARCHAR), '#',
                CAST(l_linenumber AS VARCHAR)) AS rid,
         CAST(round(l_quantity) AS BIGINT) AS x,
         CAST(round(l_extendedprice) AS BIGINT) AS y,
         CASE WHEN year(l_shipdate) <= 1996 THEN 0
              WHEN year(l_shipdate) = 1997 THEN 1
              WHEN year(l_shipdate) = 1998 THEN 2
              ELSE 3 END AS band
  FROM lineitem
),
bb AS (SELECT *, ({bucket}) % {_NR_BUCKETS} AS bucket FROM base),
m AS (
  SELECT band, bucket, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM bb GROUP BY 1, 2
),
oo AS (SELECT unnest(generate_series(0, 2)) AS o),
ii AS (SELECT unnest(generate_series(0, {_NR_BUCKETS - 1})) AS i),
ll AS (SELECT CAST(l AS BIGINT) AS l FROM (VALUES {lam_vals}) t(l)),
tr AS (
  SELECT oo.o, ii.i, CAST(sum(m.n) AS BIGINT) AS n,
         CAST(sum(m.sx) AS BIGINT) AS sx,
         CAST(sum(m.sy) AS BIGINT) AS sy,
         sum(m.sxx) AS sxx, sum(m.sxy) AS sxy, sum(m.syy) AS syy
  FROM oo CROSS JOIN ii
  JOIN m ON m.band <= oo.o AND m.bucket <> ii.i
  GROUP BY 1, 2
),
va AS (
  SELECT oo.o, ii.i, CAST(sum(m.n) AS BIGINT) AS n,
         CAST(sum(m.sx) AS BIGINT) AS sx,
         CAST(sum(m.sy) AS BIGINT) AS sy,
         sum(m.sxx) AS sxx, sum(m.sxy) AS sxy, sum(m.syy) AS syy
  FROM oo CROSS JOIN ii
  JOIN m ON m.band <= oo.o AND m.bucket = ii.i
  GROUP BY 1, 2
),
fitv AS (
  SELECT tr.o, tr.i, ll.l,
         (CAST(tr.n AS HUGEINT) * tr.sxy
            - CAST(tr.sx AS HUGEINT) * tr.sy)::DOUBLE
           / ((CAST(tr.n AS HUGEINT) * tr.sxx
               - CAST(tr.sx AS HUGEINT) * tr.sx)
              + CAST(ll.l AS HUGEINT) * tr.n * tr.n)::DOUBLE AS b1,
         tr.n, tr.sx, tr.sy
  FROM tr CROSS JOIN ll
),
fit2 AS (
  SELECT o, i, l, b1,
         (sy::DOUBLE - b1 * sx::DOUBLE) / n::DOUBLE AS b0
  FROM fitv
),
iss AS (
  SELECT f.o, f.l,
         CAST(sum(CAST(round(
           (va.syy::DOUBLE - 2.0 * f.b0 * va.sy::DOUBLE
            - 2.0 * f.b1 * va.sxy::DOUBLE
            + va.n::DOUBLE * f.b0 * f.b0
            + 2.0 * f.b0 * f.b1 * va.sx::DOUBLE
            + f.b1 * f.b1 * va.sxx::DOUBLE)
         ) AS BIGINT)) AS BIGINT) AS sse_units
  FROM fit2 f JOIN va ON va.o = f.o AND va.i = f.i
  GROUP BY 1, 2
),
pick AS (
  SELECT o, l AS lambda_star, sse_units
  FROM (
    SELECT *, row_number() OVER (PARTITION BY o
             ORDER BY sse_units, l) AS rk
    FROM iss
  ) WHERE rk = 1
),
full_tr AS (
  SELECT oo.o, CAST(sum(m.n) AS BIGINT) AS n,
         CAST(sum(m.sx) AS BIGINT) AS sx,
         CAST(sum(m.sy) AS BIGINT) AS sy,
         sum(m.sxx) AS sxx, sum(m.sxy) AS sxy
  FROM oo JOIN m ON m.band <= oo.o GROUP BY 1
),
te AS (
  SELECT oo.o, CAST(sum(m.n) AS BIGINT) AS n,
         CAST(sum(m.sx) AS BIGINT) AS sx,
         CAST(sum(m.sy) AS BIGINT) AS sy,
         sum(m.sxx) AS sxx, sum(m.sxy) AS sxy, sum(m.syy) AS syy
  FROM oo JOIN m ON m.band = oo.o + 1 GROUP BY 1
),
ffit AS (
  SELECT p.o, p.lambda_star, p.sse_units,
         (CAST(f.n AS HUGEINT) * f.sxy
            - CAST(f.sx AS HUGEINT) * f.sy)::DOUBLE
           / ((CAST(f.n AS HUGEINT) * f.sxx
               - CAST(f.sx AS HUGEINT) * f.sx)
              + CAST(p.lambda_star AS HUGEINT) * f.n * f.n)::DOUBLE
           AS b1,
         f.n AS ftn, f.sx AS ftsx, f.sy AS ftsy
  FROM pick p JOIN full_tr f ON f.o = p.o
),
ffit2 AS (
  SELECT o, lambda_star, sse_units, b1,
         (ftsy::DOUBLE - b1 * ftsx::DOUBLE) / ftn::DOUBLE AS b0
  FROM ffit
)
SELECT CAST(f.o AS INTEGER) AS outer_fold,
       CAST(f.lambda_star AS INTEGER) AS lambda_star,
       f.sse_units::DOUBLE AS inner_sse,
       te.n AS n_test,
       (te.syy::DOUBLE - 2.0 * f.b0 * te.sy::DOUBLE
        - 2.0 * f.b1 * te.sxy::DOUBLE
        + te.n::DOUBLE * f.b0 * f.b0
        + 2.0 * f.b0 * f.b1 * te.sx::DOUBLE
        + f.b1 * f.b1 * te.sxx::DOUBLE) / te.n::DOUBLE AS test_mse
FROM ffit2 f JOIN te ON te.o = f.o
"""


# ======================================================================
# text_bm25_topk — Okapi BM25 retrieval over the unigram index
# ======================================================================

_BM25_QUERIES = ["hash join merge", "table scan filter",
                 "stream window agg"]
_BM25_K = 10


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators/text.bm25_topk): three fixed queries
    against the corpus, k=10 each. The inverted index materializes
    ONLY for the query terms (semi-join of the token explode against
    the term list); idf and length normalization are single divisions
    of exact integers; per-term scores quantize to micro units before
    the per-doc sum, so ranking is exact with id tiebreaks."""
    from .operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    qt = [
        (qid, t)
        for qid, q in enumerate(_BM25_QUERIES)
        for t in q.split()
    ]
    return bm25_topk(docs, qt, k=_BM25_K)


def _sql_bm25_topk() -> str:
    qt_vals = ", ".join(
        f"({qid}, '{t}')"
        for qid, q in enumerate(_BM25_QUERIES)
        for t in q.split()
    )
    return f"""
WITH qt AS (
  SELECT CAST(q AS BIGINT) AS query_id, t AS term
  FROM (VALUES {qt_vals}) v(q, t)
),
toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
lens AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM toks GROUP BY 1
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(dl) AS BIGINT) AS total_len
  FROM lens
),
tf AS (
  SELECT q.query_id, q.term, t.doc_id, CAST(count(*) AS BIGINT) AS tf
  FROM toks t JOIN qt q ON q.term = t.term
  GROUP BY 1, 2, 3
),
dft AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df
  FROM (SELECT DISTINCT term, doc_id FROM tf) GROUP BY 1
),
sc AS (
  SELECT tf.query_id, tf.doc_id,
         CAST(round(
           ln((2 * (s.n_docs - d.df) + 1)::DOUBLE
              / (2 * d.df + 1)::DOUBLE)
           * (tf.tf::DOUBLE * {1.2 + 1.0!r}
              / (tf.tf::DOUBLE + {1.2!r}
                 * ({1.0 - 0.75!r} + {0.75!r}
                    * (l.dl * s.n_docs)::DOUBLE
                    / s.total_len::DOUBLE)))
           * 1e6) AS BIGINT) AS tm
  FROM tf
  JOIN dft d USING (term)
  JOIN lens l ON l.doc_id = tf.doc_id
  CROSS JOIN stats s
),
pd AS (
  SELECT query_id, doc_id, CAST(sum(tm) AS BIGINT) AS bm25_micro
  FROM sc GROUP BY 1, 2
)
SELECT query_id, doc_id, bm25_micro,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY bm25_micro DESC, doc_id) AS BIGINT) AS rk
FROM pd QUALIFY rk <= {_BM25_K}
"""


# ======================================================================
# dq_seasonal_anomaly — seasonal-profile + robust-MAD anomaly audit
# ======================================================================


def q_dq_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly audit: per hour-of-day, the event
    value's deviation from that hour's mean is scored against the
    hour's OWN robust scale (lower-median of absolute deviations) —
    flagging a midnight value as anomalous by midnight's dispersion,
    not the pooled day's. Deviations quantize to MILLI-cents after the
    engine-identical double subtraction, so the MAD is an exact
    integer order statistic (id tiebreak) and the 3×MAD flag is an
    exact integer comparison. Two keyed windows + two keyed
    aggregates, all partitioned by the 24-value hour key."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id"),
        F.hour("ts").alias("hod"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    means = ev.groupBy("hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sc"),
    ).select(
        "hod", "n",
        (F.col("sc").cast("double") / F.col("n").cast("double")).alias(
            "mean_cents"
        ),
    ).localCheckpoint(eager=True)
    dev = ev.join(F.broadcast(means), "hod").select(
        "hod", "n", "event_id", "mean_cents",
        F.round(
            F.abs(F.col("cents").cast("double") - F.col("mean_cents"))
            * F.lit(1000.0)
        ).cast("long").alias("dev_milli"),
    )
    w = Window.partitionBy("hod").orderBy(
        F.col("dev_milli").asc(), F.col("event_id").asc()
    )
    # lower median: the ((n+1) div 2)-th smallest deviation, exact
    mads = (
        dev.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") == F.expr("(n + 1) div 2"))
        .select("hod", F.col("dev_milli").alias("mad_milli"))
    )
    return (
        dev.join(F.broadcast(mads), "hod")
        .groupBy("hod", "n", "mean_cents", "mad_milli")
        .agg(
            F.sum(
                (
                    F.col("dev_milli") > F.lit(3) * F.col("mad_milli")
                ).cast("long")
            ).alias("n_anomalies")
        )
        .select("hod", "n", "mean_cents", "mad_milli", "n_anomalies")
    )


_SQL_SEASONAL_ANOMALY = """
WITH ev AS (
  SELECT event_id, CAST(hour(ts) AS INTEGER) AS hod,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
means AS (
  SELECT hod, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS sc
  FROM ev GROUP BY 1
),
m2 AS (
  SELECT hod, n, sc::DOUBLE / n::DOUBLE AS mean_cents FROM means
),
dev AS (
  SELECT e.hod, m.n, e.event_id, m.mean_cents,
         CAST(round(abs(e.cents::DOUBLE - m.mean_cents) * 1000.0)
              AS BIGINT) AS dev_milli
  FROM ev e JOIN m2 m ON m.hod = e.hod
),
mads AS (
  SELECT hod, dev_milli AS mad_milli
  FROM (
    SELECT hod, n, dev_milli,
           CAST(row_number() OVER (PARTITION BY hod
                ORDER BY dev_milli, event_id) AS BIGINT) AS rk
    FROM dev
  ) WHERE rk = (n + 1) // 2
)
SELECT d.hod, d.n, d.mean_cents, md.mad_milli,
       CAST(sum(CASE WHEN d.dev_milli > 3 * md.mad_milli
                THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
FROM dev d JOIN mads md ON md.hod = d.hod
GROUP BY 1, 2, 3, 4
"""


# ======================================================================
# cv_huber_irls — robust regression, zero transcendentals
# ======================================================================

_HUBER_K = 5.0
_HUBER_ITER = 2


def q_cv_huber_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two IRLS steps of Huber robust regression (value-in-dollars on
    hour-of-day, operators/linear_fastpath.huber_irls): iteration 1 is
    plain OLS, iteration 2 reweights by min(1, k/|r|) — rational
    weights, so unlike the GLM gates there is NO transcendental
    anywhere; every sum is an exact nano-quantized integer and the
    2×2 solves are fixed-order double algebra the oracle replays as
    chained CTEs."""
    from .operators.linear_fastpath import huber_irls
    from .queries_curate import _irls_trace_frame

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        F.hour("ts").cast("long").cast("double").alias("x"),
        (F.round(F.col("value") * 100).cast("long").cast("double")
         / F.lit(100.0)).alias("y"),
    )
    return _irls_trace_frame(
        spark, huber_irls(pts, "x", "y", k=_HUBER_K, n_iter=_HUBER_ITER)
    )


def _sql_huber_irls() -> str:
    det = (
        "(sw::DOUBLE * swxx::DOUBLE - swx::DOUBLE * swx::DOUBLE)"
    )
    return f"""
WITH pts AS (
  SELECT CAST(hour(ts) AS BIGINT)::DOUBLE AS x,
         CAST(round(value * 100) AS BIGINT)::DOUBLE / 100.0 AS y
  FROM events
),
s1 AS (
  SELECT
    CAST(sum(CAST(round((1.0) * 1e9) AS BIGINT)) AS BIGINT) AS sw,
    CAST(sum(CAST(round((1.0 * x) * 1e9) AS BIGINT)) AS BIGINT) AS swx,
    CAST(sum(CAST(round((1.0 * x * x) * 1e9) AS BIGINT)) AS BIGINT)
      AS swxx,
    CAST(sum(CAST(round((1.0 * (y - (0.0 + 0.0 * x))) * 1e9)
         AS BIGINT)) AS BIGINT) AS g0,
    CAST(sum(CAST(round((1.0 * (y - (0.0 + 0.0 * x)) * x) * 1e9)
         AS BIGINT)) AS BIGINT) AS g1
  FROM pts
),
b1v AS (
  SELECT sw, swx, swxx, g0, g1,
         (swxx::DOUBLE * g0::DOUBLE - swx::DOUBLE * g1::DOUBLE)
           / {det} AS beta0,
         (sw::DOUBLE * g1::DOUBLE - swx::DOUBLE * g0::DOUBLE)
           / {det} AS beta1
  FROM s1
),
p2 AS (
  SELECT p.x, p.y, b.beta0, b.beta1,
         p.y - (b.beta0 + b.beta1 * p.x) AS r,
         CASE WHEN abs(p.y - (b.beta0 + b.beta1 * p.x)) = 0.0 THEN 1.0
              ELSE least(1.0, {_HUBER_K!r}
                         / abs(p.y - (b.beta0 + b.beta1 * p.x)))
         END AS w
  FROM pts p CROSS JOIN b1v b
),
s2 AS (
  SELECT
    CAST(sum(CAST(round((w) * 1e9) AS BIGINT)) AS BIGINT) AS sw,
    CAST(sum(CAST(round((w * x) * 1e9) AS BIGINT)) AS BIGINT) AS swx,
    CAST(sum(CAST(round((w * x * x) * 1e9) AS BIGINT)) AS BIGINT)
      AS swxx,
    CAST(sum(CAST(round((w * r) * 1e9) AS BIGINT)) AS BIGINT) AS g0,
    CAST(sum(CAST(round((w * r * x) * 1e9) AS BIGINT)) AS BIGINT) AS g1
  FROM p2
),
b2v AS (
  SELECT s2.sw, s2.swx, s2.swxx, s2.g0, s2.g1,
         b.beta0 + (s2.swxx::DOUBLE * s2.g0::DOUBLE
                    - s2.swx::DOUBLE * s2.g1::DOUBLE)
           / (s2.sw::DOUBLE * s2.swxx::DOUBLE
              - s2.swx::DOUBLE * s2.swx::DOUBLE) AS beta0,
         b.beta1 + (s2.sw::DOUBLE * s2.g1::DOUBLE
                    - s2.swx::DOUBLE * s2.g0::DOUBLE)
           / (s2.sw::DOUBLE * s2.swxx::DOUBLE
              - s2.swx::DOUBLE * s2.swx::DOUBLE) AS beta1
  FROM s2 CROSS JOIN b1v b
)
SELECT CAST(1 AS BIGINT) AS it, sw, swx, swxx, g0, g1, beta0, beta1
FROM b1v
UNION ALL
SELECT CAST(2 AS BIGINT) AS it, sw, swx, swxx, g0, g1, beta0, beta1
FROM b2v
"""


# ======================================================================
# text_rake_topk — RAKE keyphrases, fully integer-exact
# ======================================================================

_RAKE_K = 20


def q_text_rake_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 RAKE keyphrases (operators/text.rake_topk) using
    the Gopher stopword list as delimiters. No doubles exist anywhere
    in the statistic: word score = (deg·10⁶) div freq (integer
    division), phrase score = exact integer sum, ties on the phrase
    text."""
    from .operators.quality import GOPHER_STOPWORDS
    from .operators.text import rake_topk

    docs = load_table(spark, sf_dir, "documents")
    return rake_topk(docs, GOPHER_STOPWORDS, k=_RAKE_K)


def _sql_rake_topk() -> str:
    from .operators.quality import GOPHER_STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
WITH pos0 AS (
  SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
        FROM documents)
),
toks AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, tk[i] AS tok
  FROM pos0 WHERE tk[i] <> ''
),
ns AS (
  SELECT doc_id, pos, tok,
         pos - CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY pos) AS BIGINT) AS island
  FROM toks WHERE tok NOT IN ({stop_list})
),
ph AS (
  SELECT doc_id, island,
         string_agg(tok, ' ' ORDER BY pos) AS phrase,
         CAST(count(*) AS BIGINT) AS plen
  FROM ns GROUP BY 1, 2
),
wstat AS (
  SELECT ns.tok, CAST(sum(ph.plen) AS BIGINT) AS deg,
         CAST(count(*) AS BIGINT) AS freq
  FROM ns JOIN ph USING (doc_id, island)
  GROUP BY 1
),
wsc AS (
  SELECT tok, (deg * 1000000) // freq AS score_micro FROM wstat
),
dph AS (SELECT DISTINCT phrase FROM ph),
pw AS (
  SELECT phrase, unnest(string_split(phrase, ' ')) AS tok FROM dph
),
psc AS (
  SELECT pw.phrase, CAST(sum(w.score_micro) AS BIGINT) AS score_micro
  FROM pw JOIN wsc w USING (tok) GROUP BY 1
),
occ AS (
  SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM ph GROUP BY 1
)
SELECT p.phrase, o.n_occurrences, o.n_docs, p.score_micro
FROM psc p JOIN occ o USING (phrase)
ORDER BY p.score_micro DESC, p.phrase
LIMIT {_RAKE_K}
"""


# ======================================================================
# stream_ks — the 21st streaming gate (mergeable count-table state)
# ======================================================================

_SKS_BATCHES = 3


def q_stream_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KS drift monitor (streaming/rolling.stream_ks_counts):
    the events feed arrives as three deterministic micro-batches; each
    batch's (segment, value) count table folds into the running state
    with one keyed SUM (a monoid — trivially chop-invariant), and the
    KS finisher over the drained state must hash-match the batch
    dq_ks_test oracle verbatim."""
    from .operators.quality import ks_from_counts
    from .sources.tables import configure
    from .streaming.rolling import (
        chop_n,
        drain,
        feed_stream,
        stream_ks_counts,
    )

    configure(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).where(F.col("cents").isNotNull())
    name = "stream_ks_sink"
    n = chop_n(_SKS_BATCHES)
    counts = drain(spark, name, lambda: stream_ks_counts(
        feed_stream(ev, F.col("event_id") % n, n, "ks_feed"),
        "event_type", "cents", query_name=name,
    ))
    return ks_from_counts(counts)


# ======================================================================
# pipe_span_corruption — T5-style masked-span training pairs
# ======================================================================

_SPAN_MASK_BP = 1500
_SPAN_SALT = "span"


def q_pipe_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption pre-training pairs (operators/text.
    span_corruption): 15% of tokens mask by content hash, consecutive
    masks merge into sentinel spans, each doc emits the
    (input, target) pair byte-exactly on both engines. Re-running (or
    appending a batch) masks exactly the same tokens — the property a
    resumable 100 TB corruption job needs."""
    from .operators.text import span_corruption

    docs = load_table(spark, sf_dir, "documents")
    return span_corruption(
        docs, mask_bp=_SPAN_MASK_BP, salt=_SPAN_SALT
    )


def _sql_span_corruption() -> str:
    bucket = duckdb_hash_bucket(
        "concat(CAST(doc_id AS VARCHAR), '#', CAST(pos AS VARCHAR))",
        _SPAN_SALT,
    )
    return f"""
WITH tk0 AS (
  SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents
),
pos0 AS (
  SELECT doc_id, tk, unnest(range(1, len(tk) + 1)) AS i FROM tk0
),
toks AS (
  SELECT doc_id, CAST(i AS BIGINT) - 1 AS pos, tk[i] AS tok
  FROM pos0 WHERE tk[i] <> ''
),
m AS (
  SELECT doc_id, pos, tok,
         CASE WHEN ({bucket}) < {_SPAN_MASK_BP} THEN 1 ELSE 0 END
           AS masked
  FROM toks
),
mk AS (
  SELECT doc_id, pos, tok,
         pos - CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY pos) AS BIGINT) AS island
  FROM m WHERE masked = 1
),
runs AS (
  SELECT doc_id, island, CAST(min(pos) AS BIGINT) AS run_start,
         CAST(count(*) AS BIGINT) AS run_len,
         string_agg(tok, ' ' ORDER BY pos) AS span_text
  FROM mk GROUP BY 1, 2
),
runs2 AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
           ORDER BY run_start) AS BIGINT) - 1 AS k
  FROM runs
),
pieces AS (
  SELECT doc_id, pos, tok AS piece FROM m WHERE masked = 0
  UNION ALL
  SELECT doc_id, run_start AS pos,
         '<extra_id_' || CAST(k AS VARCHAR) || '>' AS piece
  FROM runs2
),
inputs AS (
  SELECT doc_id, string_agg(piece, ' ' ORDER BY pos) AS input_text
  FROM pieces GROUP BY 1
),
targets AS (
  SELECT doc_id,
         string_agg('<extra_id_' || CAST(k AS VARCHAR) || '>' || ' '
                    || span_text, ' ' ORDER BY k) AS target_text,
         CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(run_len) AS BIGINT) AS n_masked_tokens
  FROM runs2 GROUP BY 1
)
SELECT i.doc_id,
       COALESCE(t.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       COALESCE(t.n_masked_tokens, CAST(0 AS BIGINT))
         AS n_masked_tokens,
       i.input_text,
       COALESCE(t.target_text, '') AS target_text
FROM inputs i LEFT JOIN targets t ON t.doc_id = i.doc_id
"""


# ======================================================================
# emb_kcenter_sample — greedy farthest-point diversity selection
# ======================================================================

_KC_K = 6


def q_emb_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset over the embeddings table (operators/
    similarity.kcenter_sample): 6 points that COVER the space —
    deterministic seed (smallest md5), per-round argmax of the rounded
    min-distance with id tiebreaks, selected vectors as double
    literals so each round is one codegen scan. The oracle replays all
    rounds as chained CTEs."""
    from .operators.similarity import kcenter_sample

    emb = load_table(spark, sf_dir, "embeddings")
    return kcenter_sample(emb, _KC_K)


def _sql_kcenter() -> str:
    d = ("round(list_sum(list_transform(range(1, len(v.x) + 1), "
         "j -> (v.x[j] - s.x[j]) * (v.x[j] - s.x[j]))), 6)")
    parts = ["""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
sel0 AS (
  SELECT id, 0 AS rk, CAST(NULL AS DOUBLE) AS dmin FROM (
    SELECT id FROM (
      SELECT id, md5(CAST(id AS VARCHAR)) AS h FROM v
    ) ORDER BY h, id LIMIT 1
  )
)"""]
    for i in range(1, _KC_K):
        parts.append(f""",
pick{i} AS (
  SELECT c.id, {i} AS rk, c.dmin FROM (
    SELECT v.id, min({d}) AS dmin
    FROM v JOIN v s ON s.id IN (SELECT id FROM sel{i - 1})
    WHERE v.id NOT IN (SELECT id FROM sel{i - 1})
    GROUP BY v.id
  ) c ORDER BY c.dmin DESC, c.id LIMIT 1
),
sel{i} AS (SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM pick{i})""")
    parts.append(f"""
SELECT CAST(rk AS INTEGER) AS sel_rank, id AS vec_id,
       dmin AS dmin_at_pick
FROM sel{_KC_K - 1}
""")
    return "".join(parts)


# ======================================================================
# cv_diff_in_diff — quasi-experimental lift (2×2 DiD)
# ======================================================================

_DID_SALT = "did"


def q_cv_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over the events panel (operators/
    evaluation.diff_in_diff): treated = user-hash arm, post = after
    the Jan-16 cutoff (the CUPED design's quasi-experimental sibling
    for when randomization is absent). The whole 2×2 estimator is ONE
    filtered-aggregate row of exact integers."""
    from .operators.evaluation import diff_in_diff

    ev = load_table(spark, sf_dir, "events").select(
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        (hash_bucket(F.col("user_id"), _DID_SALT) < _BP // 2).cast(
            "int"
        ).alias("treated"),
        (
            F.col("ts") >= F.lit(_CUPED_CUTOFF).cast("timestamp")
        ).cast("int").alias("post"),
    )
    return diff_in_diff(ev, "cents", "treated", "post")


def _sql_diff_in_diff() -> str:
    bucket = duckdb_hash_bucket("user_id", _DID_SALT)
    cells = {
        "tp": "treated = 1 AND post = 1",
        "t0": "treated = 1 AND post = 0",
        "cp": "treated = 0 AND post = 1",
        "c0": "treated = 0 AND post = 0",
    }
    aggs = ",\n         ".join(
        f"CAST(count(*) FILTER (WHERE {cond}) AS BIGINT) AS n_{nm},"
        f"\n         CAST(sum(CASE WHEN {cond} THEN y ELSE 0 END)"
        f" AS BIGINT) AS s_{nm}"
        for nm, cond in cells.items()
    )
    ok = "n_tp > 0 AND n_t0 > 0 AND n_cp > 0 AND n_c0 > 0"
    m = lambda nm: f"s_{nm}::DOUBLE / n_{nm}::DOUBLE"  # noqa: E731
    return f"""
WITH q AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS y,
         CASE WHEN {bucket} < {_BP // 2} THEN 1 ELSE 0 END AS treated,
         CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}' THEN 1 ELSE 0 END
           AS post
  FROM events
),
g AS (
  SELECT {aggs}
  FROM q
)
SELECT n_tp, n_t0, n_cp, n_c0,
       CASE WHEN {ok} THEN {m("tp")} END AS mean_treated_post,
       CASE WHEN {ok} THEN {m("t0")} END AS mean_treated_pre,
       CASE WHEN {ok} THEN {m("cp")} END AS mean_control_post,
       CASE WHEN {ok} THEN {m("c0")} END AS mean_control_pre,
       CASE WHEN {ok} THEN {m("tp")} - {m("t0")} END AS delta_treated,
       CASE WHEN {ok} THEN {m("cp")} - {m("c0")} END AS delta_control,
       CASE WHEN {ok} THEN ({m("tp")} - {m("t0")})
            - ({m("cp")} - {m("c0")}) END AS did
FROM g
"""


# ======================================================================
# sim_knn_graph — k-NN graph from LSH candidates
# ======================================================================

_KNNG_K = 5


def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN GRAPH construction (every node's top-k neighbors — the
    building block of graph-based dedup/clustering/label propagation):
    LSH candidate pairs symmetrize and each node ranks its candidates
    by the 6dp-rounded exact cosine with id tiebreaks, keeping k=5.
    Never all-pairs: a node only sees candidates that shared a
    hyperplane bucket (operators/dedup.embedding_lsh_candidate_pairs),
    so the graph build is one bucket self-join + one node-keyed
    window. Recall is tunable via n_planes/n_tables exactly as in
    emb_near_dup."""
    from pyspark.sql import Window

    from .operators import dedup
    from .queries_data import EMB_DIM, LSH_PLANES, LSH_SEED, LSH_TABLES

    emb = load_table(spark, sf_dir, "embeddings")
    nd = dedup.embedding_near_duplicates(
        emb, threshold=-1.0, n_planes=LSH_PLANES,
        n_tables=LSH_TABLES, seed=LSH_SEED, dim=EMB_DIM,
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cos6"))
    # the symmetrize union consumes nd twice and its branches differ in
    # projection, so the LSH-bucket join + cosine pipeline would run
    # once per branch — materialize the (small) pair list instead
    # (round-8 A/B at sf1: 7.0-8.0 -> 4.8-6.6 s, identical output; at
    # production scale the pair list is a written table)
    nd = nd.localCheckpoint(eager=True)
    sym = nd.select(
        F.col("id_a").alias("node"), F.col("id_b").alias("nbr"), "cos6"
    ).unionByName(
        nd.select(
            F.col("id_b").alias("node"), F.col("id_a").alias("nbr"),
            "cos6",
        )
    )
    w = Window.partitionBy("node").orderBy(
        F.col("cos6").desc(), F.col("nbr").asc()
    )
    return (
        sym.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= _KNNG_K)
        .select("node", "nbr", F.col("cos6").alias("cosine"), "rk")
    )


def _sql_knn_graph() -> str:
    from .queries_data import _sql_emb_near_dup

    return f"""
WITH nd AS (
  {_sql_emb_near_dup(thr=-1.0).strip()}
),
sym AS (
  SELECT id_a AS node, id_b AS nbr, cosine AS cos6 FROM nd
  UNION ALL
  SELECT id_b AS node, id_a AS nbr, cosine AS cos6 FROM nd
)
SELECT node, nbr, cos6 AS cosine,
       CAST(row_number() OVER (PARTITION BY node
            ORDER BY cos6 DESC, nbr) AS BIGINT) AS rk
FROM sym QUALIFY rk <= {_KNNG_K}
"""


# ======================================================================
# stream_gini — the 22nd streaming gate (same monoid state as stream_ks)
# ======================================================================

_SGINI_BATCHES = 3


def q_stream_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming inequality monitor: the orders feed arrives as three
    micro-batches; the (segment, value) count table folds by keyed SUM
    (the same monoid state as stream_ks, streaming/rolling.
    stream_ks_counts), and the drained state finishes through the
    run-sum identity (operators/quality.gini_from_counts — proven
    bit-identical to the row-rank form), so the batch dq_gini oracle
    applies verbatim. State is bounded by the value domain × segments."""
    from .operators.quality import gini_from_counts
    from .sources.tables import configure
    from .streaming.rolling import (
        chop_n,
        drain,
        feed_stream,
        stream_ks_counts,
    )

    configure(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("segment"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    name = "stream_gini_sink"
    n = chop_n(_SGINI_BATCHES)
    counts = drain(spark, name, lambda: stream_ks_counts(
        feed_stream(orders, F.col("o_orderkey") % n, n, "gini_feed"),
        "segment", "cents", query_name=name,
    ))
    return gini_from_counts(counts)


# ======================================================================
# registry
# ======================================================================

QUERIES13: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dq_gini": q_dq_gini,
    "dq_ks_test": q_dq_ks_test,
    "feat_group_ols2": q_feat_group_ols2,
    "cv_cuped": q_cv_cuped,
    "pipe_weighted_reservoir": q_pipe_weighted_reservoir,
    "cv_conformal_interval": q_cv_conformal_interval,
    "cv_learning_curve": q_cv_learning_curve,
    "dedup_incremental": q_dedup_incremental,
    "feat_acf": q_feat_acf,
    "cv_power_mde": q_cv_power_mde,
    "stream_reservoir": q_stream_reservoir,
    "dedup_survivorship": q_dedup_survivorship,
    "pipe_rule_ablation": q_pipe_rule_ablation,
    "dq_referential": q_dq_referential,
    "stream_mde": q_stream_mde,
    "dedup_source_matrix": q_dedup_source_matrix,
    "pipe_contrastive_triplets": q_pipe_contrastive_triplets,
    "ps_cpcv_folds": q_ps_cpcv_folds,
    "cv_cpcv_paths": q_cv_cpcv_paths,
    "cv_nested_ridge": q_cv_nested_ridge,
    "text_bm25_topk": q_text_bm25_topk,
    "dq_seasonal_anomaly": q_dq_seasonal_anomaly,
    "cv_huber_irls": q_cv_huber_irls,
    "text_rake_topk": q_text_rake_topk,
    "stream_ks": q_stream_ks,
    "pipe_span_corruption": q_pipe_span_corruption,
    "emb_kcenter_sample": q_emb_kcenter_sample,
    "cv_diff_in_diff": q_cv_diff_in_diff,
    "sim_knn_graph": q_sim_knn_graph,
    "stream_gini": q_stream_gini,
}


def oracles13() -> Dict[str, str]:
    return {
        "dq_gini": _SQL_GINI,
        "dq_ks_test": _SQL_KS,
        "feat_group_ols2": _SQL_OLS2,
        "cv_cuped": _sql_cuped(),
        "pipe_weighted_reservoir": _sql_weighted_reservoir(),
        "cv_conformal_interval": _sql_conformal(),
        "cv_learning_curve": _sql_learning_curve(),
        "dedup_incremental": _sql_incremental(),
        "feat_acf": _SQL_ACF,
        "cv_power_mde": _sql_power_mde(),
        # drained reservoir state == batch top-k (semilattice fold),
        # so the batch reservoir oracle applies verbatim
        "stream_reservoir": _sql_weighted_reservoir(),
        "dedup_survivorship": _sql_survivorship(),
        "pipe_rule_ablation": _sql_rule_ablation(),
        "dq_referential": _sql_referential(),
        # drained moment state == batch moments (sums are
        # chop-invariant), so the batch MDE oracle applies verbatim
        "stream_mde": _sql_power_mde(),
        "dedup_source_matrix": _sql_source_matrix(),
        "pipe_contrastive_triplets": _sql_contrastive_triplets(),
        "ps_cpcv_folds": _sql_cpcv_folds(),
        "cv_cpcv_paths": _sql_cpcv_paths(),
        "cv_nested_ridge": _sql_nested_ridge(),
        "text_bm25_topk": _sql_bm25_topk(),
        "dq_seasonal_anomaly": _SQL_SEASONAL_ANOMALY,
        "cv_huber_irls": _sql_huber_irls(),
        "text_rake_topk": _sql_rake_topk(),
        # drained count-table state == batch counts (keyed SUM is a
        # monoid), so the batch KS oracle applies verbatim
        "stream_ks": _SQL_KS,
        "pipe_span_corruption": _sql_span_corruption(),
        "emb_kcenter_sample": _sql_kcenter(),
        "cv_diff_in_diff": _sql_diff_in_diff(),
        "sim_knn_graph": _sql_knn_graph(),
        # drained count-table state == batch counts (keyed SUM monoid)
        # and gini_from_counts == the row-rank form bit-exactly (run-sum
        # identity, unit-tested), so the batch gini oracle applies
        "stream_gini": _SQL_GINI,
    }
