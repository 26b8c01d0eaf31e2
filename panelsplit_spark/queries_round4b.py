"""Round-4 breadth (part 11): evaluation statistics (rank-sum ROC-AUC
batch + streaming, calibration bins, mutual information, chi-square A/B,
weighted median), table reconciliation (fingerprint, snapshot diff,
two-phase repair plan, streaming incremental fingerprint, write-then-
introspect file audit), panel time-series tooling (calendar gap
inventory, linear interpolation, rolling 7-day distinct actives, CUSUM
change detection, Markov transitions, top session paths, linear
multi-touch attribution), curation/profiling audits (Benford,
NDV/reduction profile, sampling error, quota sampling, rare-category
collapsing, LSH recall eval, prefix-filtered exact similarity join,
inverted index, sketch set algebra), weighted shortest paths, and the
cogroup pandas API surface.

Same contract as every other part: each query is a Spark DataFrame
program paired with an ANSI-SQL oracle DuckDB runs over the same
parquet; aliases match on both sides; every numeric output is an exact
integer, a pinned string, or ONE unrounded double division of exact
integers. Conventions: see ``queries.py`` module docstring.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F

from .sources.tables import load_table

# ----------------------------------------------------------------------
# Exact distributed ROC-AUC via the rank-sum (Mann-Whitney) identity
# ----------------------------------------------------------------------


def q_cv_auc_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of order price (integer cents) as a classifier of
    high order priority (operators/evaluation.auc_ranksum): the feature
    -screening statistic a modeling pipeline computes per candidate
    column BEFORE any fit. No sort: the rank prefix is hierarchical —
    per-$10k-bin offsets from a domain-sized window plus bin-partitioned
    intra windows — and ties contribute their exact average rank, so
    ``u2`` is an exact BIGINT and ``auc`` is one unrounded double
    division of exact integers on both engines."""
    from .operators.evaluation import auc_ranksum

    od = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("long")
        .alias("y"),
    )
    return auc_ranksum(od, "cents", "y", bin_width=1_000_000)


_SQL_AUC_PRICE = """
WITH s AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS s,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y
  FROM orders
),
g AS (
  SELECT s, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
  FROM s GROUP BY s
),
c AS (
  SELECT cnt, pos,
         CAST(sum(cnt) OVER (ORDER BY s) AS BIGINT) AS cum
  FROM g
),
a AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(sum(pos * (2 * cum - cnt + 1)) AS BIGINT) AS r2
  FROM c
)
SELECT n, n_pos, n - n_pos AS n_neg,
       r2 - n_pos * (n_pos + 1) AS u2,
       (r2 - n_pos * (n_pos + 1)) / (2 * n_pos * (n - n_pos)) AS auc
FROM a"""


# ----------------------------------------------------------------------
# Per-entity calendar gap inventory (islands without a grid)
# ----------------------------------------------------------------------


def q_feat_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every maximal run of missing calendar days inside each user's
    observation span (operators/timeseries.gap_detect) — the panel-
    completeness audit run before trusting lag features. Runs come from
    one ``lead`` window over the distinct (user, day) set; no calendar
    grid is materialized, so cost scales with observed rows, not span
    length × entities."""
    from .operators.timeseries import gap_detect

    ev = load_table(spark, sf_dir, "events")
    return gap_detect(ev, "user_id", "ts", min_gap_days=1).orderBy(
        "user_id", "gap_start"
    )


_SQL_GAP_DETECT = """
WITH obs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
nx AS (
  SELECT user_id, d,
         lead(d) OVER (PARTITION BY user_id ORDER BY d) AS nd
  FROM obs
)
SELECT user_id,
       strftime(d + 1, '%Y-%m-%d') AS gap_start,
       strftime(nd - 1, '%Y-%m-%d') AS gap_end,
       CAST(datediff('day', d, nd) - 1 AS BIGINT) AS gap_days
FROM nx
WHERE nd IS NOT NULL AND datediff('day', d, nd) > 1
ORDER BY user_id, gap_start"""


# ----------------------------------------------------------------------
# Benford first-significant-digit audit
# ----------------------------------------------------------------------


def q_dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of lineitem extended price in integer cents
    (operators/quality.benford_audit): per first digit, observed ppm by
    integer division vs the inlined log10(1+1/d) constant table —
    the fabricated-data smell test, hash-stable because no engine
    evaluates a transcendental at query time."""
    from .operators.quality import benford_audit

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    return benford_audit(li, "cents")


_SQL_BENFORD = """
WITH v AS (
  SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS VARCHAR), 1, 1) AS BIGINT) AS digit
  FROM lineitem
),
c AS (
  SELECT digit, CAST(count(*) AS BIGINT) AS cnt
  FROM v WHERE digit BETWEEN 1 AND 9 GROUP BY digit
),
e AS (
  SELECT CAST(digit AS BIGINT) AS digit,
         CAST(expected_ppm AS BIGINT) AS expected_ppm
  FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
               (5, 79181), (6, 66947), (7, 57992), (8, 51153),
               (9, 45757)) AS t(digit, expected_ppm)
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_values FROM c)
SELECT e.digit, n_values,
       (coalesce(c.cnt, 0) * 1000000) // n_values AS observed_ppm,
       e.expected_ppm,
       (coalesce(c.cnt, 0) * 1000000) // n_values - e.expected_ppm
         AS dev_ppm
FROM e LEFT JOIN c USING (digit) CROSS JOIN tot
ORDER BY e.digit"""


# ----------------------------------------------------------------------
# Inverted index build (term -> df + capped postings)
# ----------------------------------------------------------------------

IDX_CAP = 20
IDX_MIN_DF = 10


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term → document-frequency + first-20-doc-ids postings string over
    the documents corpus (operators/text.inverted_index): per-term
    aggregation state is bounded by the cap via a row_number window, so
    a stopword's true df never inflates the postings build; sort_array
    pins the rendering regardless of collection order."""
    from .operators.text import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return inverted_index(
        docs, "doc_id", "text", postings_cap=IDX_CAP, min_df=IDX_MIN_DF
    ).orderBy("term")


_SQL_INVERTED_INDEX = f"""
WITH pairs AS (
  SELECT DISTINCT doc_id, t.term
  FROM documents, unnest(string_split(lower(text), ' ')) AS t(term)
  WHERE t.term <> ''
),
dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM pairs GROUP BY term
),
capped AS (
  SELECT term,
         string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
           AS postings
  FROM (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
    FROM pairs
  )
  WHERE rk <= {IDX_CAP}
  GROUP BY term
)
SELECT d.term, d.df, c.postings
FROM dfreq d JOIN capped c USING (term)
WHERE d.df >= {IDX_MIN_DF}
ORDER BY d.term"""


# ----------------------------------------------------------------------
# Table fingerprint (order/partitioning-invariant content signature)
# ----------------------------------------------------------------------

FP_BUCKETS = 64


def q_rel_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint of lineitem reduced to 64 bucket signatures
    (operators/reconcile.table_fingerprint): each row rendered to the
    pinned cross-engine form (ints, cents, strftime date), md5-hashed
    to a 60-bit integer, and modular-summed per ``hash % 64`` bucket —
    commutative, so the result is independent of partitioning and row
    order by construction. The query REPARTITIONS the scan first to
    witness exactly that invariance; comparing two 100 TB snapshots
    costs two scans and a 64-row diff."""
    from .operators.reconcile import table_fingerprint

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").cast("string").alias("r1"),
        F.col("l_partkey").cast("string").alias("r2"),
        F.col("l_linenumber").cast("string").alias("r3"),
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .cast("string")
        .alias("r4"),
        F.col("l_returnflag").alias("r5"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("r6"),
    )
    # deliberately scramble the layout: the fingerprint must not care
    return table_fingerprint(
        li.repartition(13), ["r1", "r2", "r3", "r4", "r5", "r6"],
        n_buckets=FP_BUCKETS,
    )


_SQL_TABLE_FINGERPRINT = f"""
WITH r AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS r1,
         CAST(l_partkey AS VARCHAR) AS r2,
         CAST(l_linenumber AS VARCHAR) AS r3,
         CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS VARCHAR)
           AS r4,
         l_returnflag AS r5,
         strftime(l_shipdate, '%Y-%m-%d') AS r6
  FROM lineitem
),
h AS (
  SELECT CAST(concat('0x', substr(md5(
           concat_ws(chr(31), r1, r2, r3, r4, r5, r6)), 1, 15))
         AS BIGINT) AS h
  FROM r
)
SELECT h % {FP_BUCKETS} AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(h) % 2305843009213693951 AS BIGINT) AS sig
FROM h GROUP BY 1 ORDER BY 1"""


# ----------------------------------------------------------------------
# Snapshot diff (added / removed / changed / unchanged key census)
# ----------------------------------------------------------------------

DIFF_KEY_OFFSET = 1_000_000_000_000


def q_rel_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-level census of what changed between two snapshots
    (operators/reconcile.snapshot_diff): the new snapshot is a
    deterministic mutation of orders — keys %97 dropped, %101 get one
    cent added, %103 re-inserted under an offset key — and the diff
    must classify every key into the 4-row summary with a modular
    key-sum signature per class. One full-outer sort-merge join on the
    key is the only row-scaled cost."""
    from .operators.reconcile import snapshot_diff

    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("pr"),
    )
    changed = od.where(F.col("k") % 97 != 0).withColumn(
        "cents",
        F.when(F.col("k") % 101 == 0, F.col("cents") + 1).otherwise(
            F.col("cents")
        ),
    )
    added = od.where(F.col("k") % 103 == 0).withColumn(
        "k", F.col("k") + F.lit(DIFF_KEY_OFFSET)
    )
    new = changed.unionByName(added)
    return snapshot_diff(
        od, new, ["k"], ["st", "cents", "pr"]
    )


_SQL_SNAPSHOT_DIFF = f"""
WITH o AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderpriority AS pr
  FROM orders
),
n AS (
  SELECT k, st,
         CASE WHEN k % 101 = 0 THEN cents + 1 ELSE cents END AS cents,
         pr
  FROM o WHERE k % 97 <> 0
  UNION ALL
  SELECT k + {DIFF_KEY_OFFSET}, st, cents, pr FROM o WHERE k % 103 = 0
),
ho AS (
  SELECT k, CAST(concat('0x', substr(md5(concat_ws(chr(31),
           st, CAST(cents AS VARCHAR), pr)), 1, 15)) AS BIGINT) AS a
  FROM o
),
hn AS (
  SELECT k, CAST(concat('0x', substr(md5(concat_ws(chr(31),
           st, CAST(cents AS VARCHAR), pr)), 1, 15)) AS BIGINT) AS b
  FROM n
),
j AS (
  SELECT coalesce(ho.k, hn.k) AS k, a, b
  FROM ho FULL OUTER JOIN hn ON ho.k = hn.k
)
SELECT CASE WHEN a IS NULL THEN 'added'
            WHEN b IS NULL THEN 'removed'
            WHEN a = b THEN 'unchanged'
            ELSE 'changed' END AS status,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(k) % 2305843009213693951 AS BIGINT) AS key_sig
FROM j GROUP BY 1 ORDER BY 1"""


# ----------------------------------------------------------------------
# Calibration bins of a per-group prior predictor
# ----------------------------------------------------------------------

CALIB_TRAIN_BP = 8000
CALIB_BIN_BP = 250


def q_cv_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram audit of the canonical baseline predictor —
    the per-(segment, nation) training prior — on held-out orders
    (operators/evaluation.calibration_bins): train/test by the md5
    hash split, prior as exact integer basis points, bins as
    ``pred_bp div 250``, and the two plotted rates each ONE unrounded
    double division of exact integers."""
    from .operators.evaluation import calibration_bins
    from .operators.sampling import hash_bucket

    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey"
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.col("c_nationkey").alias("nat"),
            F.col("o_orderpriority")
            .isin("1-URGENT", "2-HIGH")
            .cast("long")
            .alias("y"),
            (hash_bucket(F.col("o_orderkey"), "calib") < CALIB_TRAIN_BP)
            .alias("is_train"),
        )
    )
    prior = (
        od.where("is_train")
        .groupBy("seg", "nat")
        .agg(
            F.expr("(sum(y) * 10000) div count(1)").alias("pred_bp")
        )
    )
    test = od.where(~F.col("is_train")).join(prior, ["seg", "nat"])
    return calibration_bins(test, "pred_bp", "y", bin_width_bp=CALIB_BIN_BP)


def _sql_calibration_bins() -> str:
    from .operators.sampling import duckdb_hash_bucket

    hb = duckdb_hash_bucket("o_orderkey", "calib")
    return f"""
WITH od AS (
  SELECT c_mktsegment AS seg, c_nationkey AS nat,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS y,
         ({hb}) < {CALIB_TRAIN_BP} AS is_train
  FROM orders JOIN customer ON o_custkey = c_custkey
),
prior AS (
  SELECT seg, nat,
         (CAST(sum(y) AS BIGINT) * 10000) // CAST(count(*) AS BIGINT)
           AS pred_bp
  FROM od WHERE is_train GROUP BY seg, nat
),
test AS (
  SELECT od.y, prior.pred_bp
  FROM od JOIN prior USING (seg, nat)
  WHERE NOT od.is_train
)
SELECT pred_bp // {CALIB_BIN_BP} AS bin,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       CAST(sum(pred_bp) AS BIGINT) AS sum_pred_bp,
       CAST(sum(pred_bp) AS BIGINT)
         / (CAST(count(*) AS BIGINT) * 10000) AS pred_rate,
       CAST(sum(y) AS BIGINT) / CAST(count(*) AS BIGINT) AS pos_rate
FROM test GROUP BY 1 ORDER BY 1"""


# ----------------------------------------------------------------------
# Mutual-information contingency cells
# ----------------------------------------------------------------------


def q_feat_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell mutual-information contributions between order status
    and order priority (operators/evaluation.mutual_info_cells): exact
    joint/marginal counts plus the nano-quantized c·ln(cn/(c_x·c_y))
    term — the information-gain feature screen with the project's
    transcendental discipline (quantize AFTER the one ln call, sum
    integers only)."""
    from .operators.evaluation import mutual_info_cells

    od = load_table(spark, sf_dir, "orders")
    return mutual_info_cells(od, "o_orderstatus", "o_orderpriority")


_SQL_MUTUAL_INFO = """
WITH s AS (
  SELECT o_orderstatus AS x, o_orderpriority AS y FROM orders
),
j AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM s GROUP BY x, y
),
mx AS (SELECT x, CAST(count(*) AS BIGINT) AS c_x FROM s GROUP BY x),
my AS (SELECT y, CAST(count(*) AS BIGINT) AS c_y FROM s GROUP BY y),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s)
SELECT x, y, c_xy, c_x, c_y, n,
       CAST(round(c_xy * ln((c_xy * n) / (c_x * c_y)) * 1000000000)
         AS BIGINT) AS term_nano
FROM j JOIN mx USING (x) JOIN my USING (y) CROSS JOIN tot
ORDER BY x, y"""


# ----------------------------------------------------------------------
# Trailing 7-day distinct active users
# ----------------------------------------------------------------------


def q_rel_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per calendar day
    (operators/timeseries.rolling_distinct): COUNT(DISTINCT) OVER a
    range frame is unsupported in every engine, and the per-day
    self-join is quadratic — this contributes each distinct (user, day)
    to its 7 target days (bounded explode), re-distincts, and counts.
    O(7·observations), keyed end to end."""
    from .operators.timeseries import rolling_distinct

    ev = load_table(spark, sf_dir, "events")
    return rolling_distinct(ev, "user_id", "ts", window_days=7)


_SQL_ROLLING_DISTINCT = """
WITH pairs AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM pairs),
contrib AS (
  SELECT DISTINCT user_id, d + CAST(t.off AS INTEGER) AS td
  FROM pairs, unnest(generate_series(0, 6)) AS t(off)
)
SELECT strftime(td, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_active
FROM contrib, bounds
WHERE td BETWEEN lo AND hi
GROUP BY td ORDER BY day"""


# ----------------------------------------------------------------------
# A/B gate: 2x2 chi-square with pinned double expression tree
# ----------------------------------------------------------------------

AB_SPLIT_BP = 5000


def q_dq_ab_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B significance gate over a deterministic
    md5-hash split of orders (operators/evaluation.chi2_2x2): exact
    integer cell counts, chi-square evaluated in double with the
    operation order pinned token-for-token against the SQL oracle —
    the release gate an experimentation pipeline runs before shipping
    an arm."""
    from .operators.evaluation import chi2_2x2
    from .operators.sampling import hash_bucket

    od = load_table(spark, sf_dir, "orders").select(
        (hash_bucket(F.col("o_orderkey"), "ab") >= AB_SPLIT_BP)
        .cast("long")
        .alias("arm"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("long")
        .alias("won"),
    )
    return chi2_2x2(od, "arm", "won")


def _sql_ab_chi2() -> str:
    from .operators.sampling import duckdb_hash_bucket

    hb = duckdb_hash_bucket("o_orderkey", "ab")
    return f"""
WITH s AS (
  SELECT CASE WHEN ({hb}) >= {AB_SPLIT_BP} THEN 1 ELSE 0 END AS g,
         CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 1 ELSE 0 END AS s
  FROM orders
),
t AS (
  SELECT CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN g = 0 THEN s ELSE 0 END) AS BIGINT) AS x_a,
         CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN g = 1 THEN s ELSE 0 END) AS BIGINT) AS x_b
  FROM s
)
SELECT n_a, x_a, n_b, x_b,
       (CAST(n_a + n_b AS DOUBLE)
        * (CAST(x_a AS DOUBLE) * CAST(n_b - x_b AS DOUBLE)
           - CAST(x_b AS DOUBLE) * CAST(n_a - x_a AS DOUBLE))
        * (CAST(x_a AS DOUBLE) * CAST(n_b - x_b AS DOUBLE)
           - CAST(x_b AS DOUBLE) * CAST(n_a - x_a AS DOUBLE)))
       / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)
          * CAST(x_a + x_b AS DOUBLE)
          * CAST(n_a + n_b - x_a - x_b AS DOUBLE)) AS chi2
FROM t"""


# ----------------------------------------------------------------------
# First-order Markov transition census over sessionized event streams
# ----------------------------------------------------------------------

MK_GAP_S = 1800.0


def q_rel_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session event-type transition matrix over the events
    stream (operators/timeseries.markov_transitions): sessionize at a
    30-minute gap, lag within (user, session), count (src → dst) over
    the tiny type×type domain, attach src marginals; ``p`` is one
    unrounded double division of exact counts. The session and lag
    windows share one user-keyed exchange."""
    from .operators.timeseries import markov_transitions

    ev = load_table(spark, sf_dir, "events")
    return markov_transitions(
        ev,
        ["user_id"],
        "ts",
        "event_type",
        gap_seconds=MK_GAP_S,
        order_cols=["event_id"],
    )


_SQL_MARKOV = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events
),
lagged AS (
  SELECT user_id, event_id, event_type, t,
         lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
  FROM e
),
sess AS (
  SELECT user_id, event_id, event_type, t,
         CAST(sum(CASE WHEN pt IS NULL OR t - pt > 1800000000
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY t, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM lagged
),
trans AS (
  SELECT src, event_type AS dst, CAST(count(*) AS BIGINT) AS cnt
  FROM (
    SELECT event_type,
           lag(event_type) OVER (PARTITION BY user_id, sid
                                 ORDER BY t, event_id) AS src
    FROM sess
  )
  WHERE src IS NOT NULL
  GROUP BY src, event_type
),
tot AS (
  SELECT src, CAST(sum(cnt) AS BIGINT) AS src_total
  FROM trans GROUP BY src
)
SELECT t.src, t.dst, t.cnt, tot.src_total,
       t.cnt / tot.src_total AS p
FROM trans t JOIN tot USING (src)
ORDER BY t.src, t.dst"""



# Per-invocation feed-dir counter for the streaming gates below: a
# FRESH directory per drain removes every possible interaction between
# consecutive invocations of the same gate inside one long session
# (bench warm pass + two timed passes) — the file-stream source never
# sees a directory it has listed before. Contents are deterministic;
# only the path varies.
_FEED_SEQ = [0]


def _fresh_feed(leaf: str) -> str:
    import os
    import shutil

    _FEED_SEQ[0] += 1
    d = os.path.join(
        os.getcwd(), "spark-warehouse", "sinks",
        f"{leaf}_{os.getpid()}_{_FEED_SEQ[0]}",
    )
    shutil.rmtree(d, ignore_errors=True)
    # clean up feeds from PREVIOUS invocations of this gate (bounded
    # garbage: at most one dir per drain per session otherwise)
    parent = os.path.dirname(d)
    if os.path.isdir(parent):
        for old in os.listdir(parent):
            if old.startswith(leaf + "_") and old != os.path.basename(d):
                shutil.rmtree(os.path.join(parent, old), ignore_errors=True)
    return d


# ----------------------------------------------------------------------
# Streaming incremental table fingerprint
# ----------------------------------------------------------------------

SFP_BATCHES = 4
SFP_BUCKETS = 32


def q_stream_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental content fingerprint: the events feed
    arrives as four deterministic micro-batches and each folds into the
    running per-bucket modular-sum state
    (streaming/rolling.stream_table_fingerprint). Because modular sums
    are commutative and associative, the drained state must equal the
    batch fingerprint of the whole table — which is exactly what the
    SQL oracle computes. The online form of 'keep a continuously-true
    table signature without rescanning'."""
    from .sources.tables import configure
    from .streaming.rolling import (
        chop_n,
        drain,
        feed_stream,
        stream_table_fingerprint,
    )

    configure(spark)
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("r1"),
        F.col("event_type").alias("r2"),
        F.round(F.col("value") * 100).cast("long").cast("string").alias("r3"),
    )
    key = F.col("r1").cast("long")
    name = "stream_fingerprint_sink"
    n = chop_n(SFP_BATCHES)
    state = drain(spark, name, lambda: stream_table_fingerprint(
        feed_stream(ev, key % n, n, "fingerprint_feed"),
        ["r1", "r2", "r3"], n_buckets=SFP_BUCKETS, query_name=name,
    ))
    return state.orderBy("bucket")


_SQL_STREAM_FINGERPRINT = f"""
WITH r AS (
  SELECT CAST(event_id AS VARCHAR) AS r1,
         event_type AS r2,
         CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) AS r3
  FROM events
),
h AS (
  SELECT CAST(concat('0x', substr(md5(
           concat_ws(chr(31), r1, r2, r3)), 1, 15)) AS BIGINT) AS h
  FROM r
)
SELECT h % {SFP_BUCKETS} AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(h) % 2305843009213693951 AS BIGINT) AS sig
FROM h GROUP BY 1 ORDER BY 1"""


# ----------------------------------------------------------------------
# Streaming exact AUC (additive score-histogram state)
# ----------------------------------------------------------------------

SAUC_BATCHES = 3


def q_stream_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact ROC-AUC: orders arrive as three deterministic
    micro-batches; each folds its (score, cnt, pos) histogram into the
    running state with one keyed sum (streaming/rolling.stream_auc) and
    the drained state feeds the identical rank-sum arithmetic as the
    batch operator — so the streaming AUC provably equals the batch AUC
    over the full feed, which is exactly what the batch SQL oracle
    checks. A global rank statistic kept online by making its
    sufficient state additive."""
    from .sources.tables import configure
    from .streaming.rolling import chop_n, drain, feed_stream, stream_auc

    configure(spark)
    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority")
        .isin("1-URGENT", "2-HIGH")
        .cast("long")
        .alias("y"),
    )
    name = "stream_auc_sink"
    n = chop_n(SAUC_BATCHES)
    return drain(spark, name, lambda: stream_auc(
        feed_stream(od, F.col("k") % n, n, "auc_feed", drop=("k",)),
        "cents", "y", query_name=name,
    ))


# the batch oracle: identical to _SQL_AUC_PRICE — the streaming drain
# must reproduce the batch statistic exactly
def _sql_stream_auc() -> str:
    return _SQL_AUC_PRICE


# ----------------------------------------------------------------------
# Exact per-group weighted median
# ----------------------------------------------------------------------


def q_feat_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted (lower) median of lineitem extended price in
    cents per return flag (operators/evaluation.weighted_median): ties
    fuse in a (group, value) aggregate first so the cumulative/total
    windows run over the distinct-value table; the lower-median rule
    (2·cum ≥ total) is pinned because engines disagree on median
    interpolation."""
    from .operators.evaluation import weighted_median

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    return weighted_median(li, "l_returnflag", "cents", "qty").orderBy(
        "l_returnflag"
    )


_SQL_WEIGHTED_MEDIAN = """
WITH fused AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
  FROM lineitem
  GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, v, w,
         CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tot
  FROM fused
),
r AS (
  SELECT l_returnflag, v, tot,
         row_number() OVER (PARTITION BY l_returnflag ORDER BY v) AS rk
  FROM c WHERE 2 * cum >= tot
)
SELECT l_returnflag, v AS median, tot AS total_weight
FROM r WHERE rk = 1
ORDER BY l_returnflag"""


# ----------------------------------------------------------------------
# Two-phase repair plan (fingerprint -> bucket-scoped key diff)
# ----------------------------------------------------------------------

RP_BUCKETS = 64


def q_rel_repair_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase reconciliation composed end-to-end
    (operators/reconcile.repair_plan): fingerprint old and mutated
    orders snapshots into 64-bucket signatures, flag disagreeing
    buckets, and run the key-level diff ONLY over rows hashing into a
    flagged bucket — the pruning evidence (n_scanned vs table size)
    rides along in the output. Same deterministic mutation as
    ``rel_snapshot_diff`` (keys %97 dropped, %101 one cent added,
    %103 re-inserted offset)."""
    from .operators.reconcile import repair_plan

    od = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("st"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("pr"),
    )
    changed = od.where(F.col("k") % 97 != 0).withColumn(
        "cents",
        F.when(F.col("k") % 101 == 0, F.col("cents") + 1).otherwise(
            F.col("cents")
        ),
    )
    added = od.where(F.col("k") % 103 == 0).withColumn(
        "k", F.col("k") + F.lit(DIFF_KEY_OFFSET)
    )
    new = changed.unionByName(added)
    return repair_plan(
        od, new, ["k"], ["st", "cents", "pr"], n_buckets=RP_BUCKETS
    )


def _sql_repair_plan() -> str:
    row_h = (
        "CAST(concat('0x', substr(md5(concat_ws(chr(31), "
        "CAST(k AS VARCHAR), st, CAST(cents AS VARCHAR), pr)), 1, 15)) "
        "AS BIGINT)"
    )
    val_h = (
        "CAST(concat('0x', substr(md5(concat_ws(chr(31), "
        "st, CAST(cents AS VARCHAR), pr)), 1, 15)) AS BIGINT)"
    )
    return f"""
WITH o AS (
  SELECT o_orderkey AS k, o_orderstatus AS st,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         o_orderpriority AS pr
  FROM orders
),
n AS (
  SELECT k, st,
         CASE WHEN k % 101 = 0 THEN cents + 1 ELSE cents END AS cents,
         pr
  FROM o WHERE k % 97 <> 0
  UNION ALL
  SELECT k + {DIFF_KEY_OFFSET}, st, cents, pr FROM o WHERE k % 103 = 0
),
ob AS (SELECT o.*, ({row_h}) % {RP_BUCKETS} AS b FROM o),
nb AS (SELECT n.*, ({row_h}) % {RP_BUCKETS} AS b FROM n),
fpo AS (SELECT b, CAST(count(*) AS BIGINT) AS no,
               CAST(sum({row_h}) % 2305843009213693951 AS BIGINT) AS so
        FROM ob GROUP BY b),
fpn AS (SELECT b, CAST(count(*) AS BIGINT) AS nn,
               CAST(sum({row_h}) % 2305843009213693951 AS BIGINT) AS sn
        FROM nb GROUP BY b),
flagged AS (
  SELECT coalesce(fpo.b, fpn.b) AS b
  FROM fpo FULL OUTER JOIN fpn ON fpo.b = fpn.b
  WHERE no IS NULL OR nn IS NULL OR no <> nn OR so <> sn
),
ofl AS (SELECT * FROM ob WHERE b IN (SELECT b FROM flagged)),
nfl AS (SELECT * FROM nb WHERE b IN (SELECT b FROM flagged)),
ho AS (SELECT k, ({val_h}) AS a FROM ofl),
hn AS (SELECT k, ({val_h}) AS v FROM nfl),
j AS (
  SELECT coalesce(ho.k, hn.k) AS k, a, v
  FROM ho FULL OUTER JOIN hn ON ho.k = hn.k
),
census AS (
  SELECT CASE WHEN a IS NULL THEN 'added'
              WHEN v IS NULL THEN 'removed'
              WHEN a = v THEN 'unchanged'
              ELSE 'changed' END AS status,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(sum(k) % 2305843009213693951 AS BIGINT) AS key_sig
  FROM j GROUP BY 1
),
stats AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM flagged)
           AS n_flagged_buckets,
         (SELECT CAST(count(*) AS BIGINT) FROM ofl) AS n_scanned_old,
         (SELECT CAST(count(*) AS BIGINT) FROM nfl) AS n_scanned_new
)
SELECT census.*, stats.* FROM census CROSS JOIN stats
ORDER BY status"""


# ----------------------------------------------------------------------
# Linear interpolation across per-entity daily gaps
# ----------------------------------------------------------------------


def q_feat_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily grid with LINEAR interpolation of the day's total
    event value in cents (operators/timeseries.interpolate_linear):
    observed days emit the exact integer total; synthesized days emit
    prev + (next−prev)·(d−d0)/(d1−d0) with everything left of the ONE
    double division an exact integer. To keep the grid small the users
    are folded mod 11 (the panel shape, not the user cardinality, is
    what the gate checks)."""
    from .operators.timeseries import interpolate_linear

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            (F.col("user_id") % 11).alias("entity"),
            F.to_date("ts").alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("entity", "d")
        .agg(F.sum("cents").alias("day_cents"))
    )
    return interpolate_linear(ev, "entity", "d", "day_cents").orderBy(
        "entity", "day"
    )


_SQL_INTERPOLATE = """
WITH obs AS (
  SELECT user_id % 11 AS entity, CAST(ts AS DATE) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS day_cents
  FROM events GROUP BY 1, 2
),
spans AS (
  SELECT entity, min(d) AS lo, max(d) AS hi FROM obs GROUP BY entity
),
grid AS (
  SELECT entity, CAST(g.d AS DATE) AS d
  FROM spans, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS g(d)
),
j AS (
  SELECT grid.entity, grid.d, obs.day_cents AS v FROM grid
  LEFT JOIN obs ON obs.entity = grid.entity AND obs.d = grid.d
),
w AS (
  SELECT entity, d, v,
         last_value(v IGNORE NULLS) OVER
           (PARTITION BY entity ORDER BY d
            ROWS UNBOUNDED PRECEDING) AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
           OVER (PARTITION BY entity ORDER BY d
                 ROWS UNBOUNDED PRECEDING) AS pd,
         first_value(v IGNORE NULLS) OVER
           (PARTITION BY entity ORDER BY d
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS)
           OVER (PARTITION BY entity ORDER BY d
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM j
)
SELECT entity, strftime(d, '%Y-%m-%d') AS day,
       CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
            WHEN nv IS NULL THEN CAST(pv AS DOUBLE)
            WHEN pv IS NULL THEN CAST(nv AS DOUBLE)
            ELSE pv + CAST((nv - pv) * datediff('day', pd, d) AS DOUBLE)
                      / CAST(datediff('day', pd, nd) AS DOUBLE)
       END AS value,
       CASE WHEN v IS NULL THEN 1 ELSE 0 END AS is_interp
FROM w
ORDER BY entity, day"""


# ----------------------------------------------------------------------
# Hash-sample estimation error audit
# ----------------------------------------------------------------------

SE_SAMPLE_BP = 1000  # 10% sample


def q_dq_sample_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-error audit in ONE scan: estimate total lineitem
    revenue (cents) from the deterministic 10% md5-hash sample,
    scale by the inverse sampling rate, and report the ABSOLUTE error
    vs the exact total in ppm (magnitude only; drop the abs for bias) — the accuracy evidence a pipeline
    needs before trusting sampled dashboards. Conditional aggregation
    computes sample and exact totals together (no second scan)."""
    from .operators.sampling import hash_bucket

    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        (
            hash_bucket(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                ),
                "se",
            )
            < SE_SAMPLE_BP
        ).alias("in_sample"),
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0)).alias(
            "n_sampled"
        ),
        F.sum("cents").alias("exact_cents"),
        (
            F.sum(F.when(F.col("in_sample"), F.col("cents")).otherwise(0))
            * F.lit(10_000 // SE_SAMPLE_BP)
        ).alias("est_cents"),
    ).select(
        "n_total",
        "n_sampled",
        "exact_cents",
        "est_cents",
        F.expr(
            "(abs(est_cents - exact_cents) * 1000000) div exact_cents"
        ).alias("err_ppm"),
    )


def _sql_sample_error() -> str:
    from .operators.sampling import duckdb_hash_bucket

    hb = duckdb_hash_bucket(
        "concat_ws(':', CAST(l_orderkey AS VARCHAR), "
        "CAST(l_linenumber AS VARCHAR))",
        "se",
    )
    return f"""
WITH s AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         ({hb}) < {SE_SAMPLE_BP} AS in_sample
  FROM lineitem
),
t AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sampled,
         CAST(sum(cents) AS BIGINT) AS exact_cents,
         CAST(sum(CASE WHEN in_sample THEN cents ELSE 0 END) AS BIGINT)
           * {10_000 // SE_SAMPLE_BP} AS est_cents
  FROM s
)
SELECT n_total, n_sampled, exact_cents, est_cents,
       (abs(est_cents - exact_cents) * 1000000) // exact_cents AS err_ppm
FROM t"""


# ----------------------------------------------------------------------
# Weighted shortest paths (bounded synchronous Bellman-Ford)
# ----------------------------------------------------------------------

SP_NATION = 0
SP_ROUNDS = 3


def q_rel_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source weighted shortest paths on the supplier↔customer
    graph (operators/graph.shortest_paths): edge weight = cheapest
    lineitem between the pair in $100 units + 1, sources = one
    nation's suppliers, 3 synchronous Bellman-Ford relaxations (fixed
    round count — the iterative-operator contract). Exact integer
    costs; the oracle replays each relaxation as a chained CTE.
    Unlike BFS the full node-sized distance frame relaxes each round
    (a cheaper longer-hop path can supersede), persisted edges shuffle
    once."""
    from .operators.graph import shortest_paths

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    su = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            (F.col("l_suppkey") * 2 + 1).alias("a"),
            (F.col("o_custkey") * 2).alias("b"),
        )
        .agg((F.min(F.expr("cents div 10000")) + 1).alias("w"))
    )
    # the pair list goes in ONCE (undirected mode relaxes both
    # orientations of the single persisted copy: half the doubled
    # list's materialization volume, identical relaxation candidates)
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "w"
    )
    # key-mod source set: non-empty at every scale factor (a nation
    # filter is empty at sf0.001 where only a handful of suppliers exist)
    sources = su.where(F.col("s_suppkey") % 5 == SP_NATION).select(
        (F.col("s_suppkey") * 2 + 1).alias("node")
    )
    dist = shortest_paths(
        edges, sources, n_rounds=SP_ROUNDS, undirected=True
    )
    out = dist.select(
        F.when(
            F.col("node") % 2 == 1,
            F.concat(F.lit("s"), F.shiftright("node", 1)),
        )
        .otherwise(F.concat(F.lit("c"), F.shiftright("node", 1)))
        .alias("node"),
        "dist",
    ).orderBy("node").persist()
    out.count()
    for frame in dist.persisted_intermediates:
        frame.unpersist()
    return out


def _sql_shortest_path() -> str:
    steps = []
    for k in range(1, SP_ROUNDS + 1):
        steps.append(f"""
d{k} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT e.dst AS node, d.dist + e.w AS dist
    FROM d{k - 1} d JOIN edges e ON d.node = e.src
    UNION ALL
    SELECT node, dist FROM d{k - 1}
  ) GROUP BY node
)""")
    return f"""
WITH pairs AS (
  SELECT l_suppkey * 2 + 1 AS a, o_custkey * 2 AS b,
         min(CAST(round(l_extendedprice * 100) AS BIGINT) // 10000) + 1
           AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT a AS src, b AS dst, w FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst, w FROM pairs
),
d0 AS (
  SELECT s_suppkey * 2 + 1 AS node, CAST(0 AS BIGINT) AS dist
  FROM supplier WHERE s_suppkey % 5 = {SP_NATION}
),{",".join(steps)}
SELECT CASE WHEN node % 2 = 1 THEN 's' || CAST(node // 2 AS VARCHAR)
            ELSE 'c' || CAST(node // 2 AS VARCHAR) END AS node,
       dist
FROM d{SP_ROUNDS} ORDER BY node"""


# ----------------------------------------------------------------------
# One-scan exact NDV / reduction-ratio profile
# ----------------------------------------------------------------------

NDV_COLS = ["o_custkey", "o_orderstatus", "o_orderpriority"]


def q_dq_ndv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cardinality profile of candidate aggregation keys in ONE
    scan (operators/quality.ndv_profile): multiple COUNT(DISTINCT)s
    compile to one Expand pass; per column the profile emits ndv and
    n_rows/ndv — the reduction ratio that decides whether map-side
    combine on that key pays for itself."""
    from .operators.quality import ndv_profile

    od = load_table(spark, sf_dir, "orders")
    return ndv_profile(od, NDV_COLS)


_SQL_NDV_PROFILE = """
WITH t AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS n0,
         CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n1,
         CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n2
  FROM orders
)
SELECT col_name, ndv, n_rows, n_rows / ndv AS reduction FROM (
  SELECT 'o_custkey' AS col_name, n0 AS ndv, n_rows FROM t
  UNION ALL SELECT 'o_orderstatus', n1, n_rows FROM t
  UNION ALL SELECT 'o_orderpriority', n2, n_rows FROM t
)
ORDER BY col_name"""


# ----------------------------------------------------------------------
# LSH recall/efficiency eval against the exact all-pairs truth
# ----------------------------------------------------------------------


def q_dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality eval for the MinHash/LSH dedup path: exact
    above-threshold Jaccard pairs (the all-pairs truth the scale path
    exists to avoid) vs the LSH-candidate→verify pipeline, reduced to
    the numbers that justify the banding config — truth count,
    candidate count, verified hits, recall and candidate efficiency in
    integer basis points. Same constants as dedup_jaccard /
    dedup_minhash_lsh so this grades exactly the shipped config."""
    from .operators import dedup
    from .queries_data import (
        JACCARD_N,
        JACCARD_T,
        MH_BAND,
        MH_HASHES,
        MH_SHINGLE,
    )

    docs = load_table(spark, sf_dir, "documents")
    exact = dedup.ngram_jaccard_pairs(
        docs, shingle_n=JACCARD_N, threshold=JACCARD_T
    ).select("id_a", "id_b")
    sigs = dedup.minhash_signatures(
        docs, n_hashes=MH_HASHES, shingle_n=MH_SHINGLE
    )
    cands = dedup.lsh_candidate_pairs(
        sigs, n_hashes=MH_HASHES, band_size=MH_BAND
    )
    verified = dedup.ngram_jaccard_pairs(
        docs, shingle_n=JACCARD_N, threshold=JACCARD_T, candidates=cands
    ).select("id_a", "id_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_hit = exact.join(verified, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    return (
        n_exact.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_hit))
        .select(
            "n_exact",
            "n_candidates",
            "n_hits",
            F.expr("(n_hits * 10000) div n_exact").alias("recall_bp"),
            F.expr("(n_hits * 10000) div n_candidates").alias(
                "efficiency_bp"
            ),
        )
    )


def _sql_lsh_recall() -> str:
    from .queries_data import (
        _SQL_DEDUP_JACCARD,
        _sql_jaccard_lsh,
    )

    exact = _SQL_DEDUP_JACCARD.strip()
    ver = _sql_jaccard_lsh().strip()
    # candidate count: the verified CTE's cands subquery — rebuild from
    # the shared banding SQL to count PRE-verification pairs
    from .queries_data import _sql_minhash_lsh

    cands = _sql_minhash_lsh().strip()
    return f"""
WITH exact_pairs AS (
  {exact}
),
cand_pairs AS (
  {cands}
),
ver_pairs AS (
  {ver}
),
t AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM exact_pairs) AS n_exact,
    (SELECT CAST(count(*) AS BIGINT) FROM cand_pairs) AS n_candidates,
    (SELECT CAST(count(*) AS BIGINT) FROM exact_pairs e
      WHERE EXISTS (SELECT 1 FROM ver_pairs v
                    WHERE v.id_a = e.id_a AND v.id_b = e.id_b)) AS n_hits
)
SELECT n_exact, n_candidates, n_hits,
       (n_hits * 10000) // n_exact AS recall_bp,
       (n_hits * 10000) // n_candidates AS efficiency_bp
FROM t"""


# ----------------------------------------------------------------------
# Proportional-quota stratified sample audit
# ----------------------------------------------------------------------

QSAMP_BP = 2000  # 20%
QSAMP_SALT = "quota"


def q_pipe_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proportional-allocation stratified sampling audit over documents
    by language (operators/sampling.stratified_quota_sample): every
    stratum contributes EXACTLY ceil(n·20%) rows under the md5-hash
    order — the audit emits per-stratum population, quota, achieved
    count (an identity when the operator is correct), and a modular sum
    of sampled doc ids so the gate pins WHICH rows, not just how
    many."""
    from .operators.sampling import stratified_quota_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    samp = stratified_quota_sample(
        docs, "lang", "doc_id", frac_bp=QSAMP_BP, salt=QSAMP_SALT
    )
    pop = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_rows"))
    got = samp.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.expr(
            "CAST(sum(CAST(doc_id AS DECIMAL(38,0)))"
            " % 2305843009213693951 AS BIGINT)"
        ).alias("id_sig"),
    )
    return (
        pop.join(got, "lang")
        .select(
            "lang",
            "n_rows",
            F.expr(f"(n_rows * {QSAMP_BP} + 9999) div 10000").alias(
                "quota"
            ),
            "n_sampled",
            "id_sig",
        )
        .orderBy("lang")
    )


def _sql_quota_sample() -> str:
    from .operators.sampling import duckdb_hash_bucket

    hb = duckdb_hash_bucket("doc_id", QSAMP_SALT)
    return f"""
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY ({hb}), doc_id) AS rk,
         count(*) OVER (PARTITION BY lang) AS n
  FROM documents
),
samp AS (
  SELECT lang, doc_id FROM ranked
  WHERE rk <= (n * {QSAMP_BP} + 9999) // 10000
),
pop AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_rows
  FROM documents GROUP BY lang
),
got AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
         CAST(sum(doc_id) % 2305843009213693951 AS BIGINT) AS id_sig
  FROM samp GROUP BY lang
)
SELECT pop.lang, n_rows,
       (n_rows * {QSAMP_BP} + 9999) // 10000 AS quota,
       n_sampled, id_sig
FROM pop JOIN got USING (lang)
ORDER BY lang"""


# ----------------------------------------------------------------------
# Top session paths
# ----------------------------------------------------------------------

TP_STEPS = 8
TP_K = 20


def q_rel_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most common session journeys over the events stream
    (operators/timeseries.session_paths): sessionize at 30 minutes,
    render each session's first 8 event types as an ``a>b>c`` string
    via an array_sort'ed collect (collection-order-proof), count paths,
    deterministic top-k (count desc, path asc). The product-analytics
    "what do users actually do" query."""
    from .operators.timeseries import session_paths

    ev = load_table(spark, sf_dir, "events")
    return session_paths(
        ev,
        ["user_id"],
        "ts",
        "event_type",
        gap_seconds=MK_GAP_S,
        order_cols=["event_id"],
        max_steps=TP_STEPS,
        top_k=TP_K,
    )


_SQL_TOP_PATHS = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS t FROM events
),
lagged AS (
  SELECT user_id, event_id, event_type, t,
         lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pt
  FROM e
),
sess AS (
  SELECT user_id, event_id, event_type, t,
         CAST(sum(CASE WHEN pt IS NULL OR t - pt > 1800000000
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY t, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
  FROM lagged
),
stepped AS (
  SELECT user_id, sid, event_type, t, event_id,
         row_number() OVER (PARTITION BY user_id, sid
                            ORDER BY t, event_id) AS rk
  FROM sess
),
paths AS (
  SELECT string_agg(event_type, '>' ORDER BY t, event_id) AS path
  FROM stepped WHERE rk <= {TP_STEPS}
  GROUP BY user_id, sid
),
counted AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_sessions FROM paths
  GROUP BY path
)
SELECT path, n_sessions,
       CAST(row_number() OVER (ORDER BY n_sessions DESC, path ASC)
            AS BIGINT) AS rnk
FROM counted
QUALIFY rnk <= {TP_K}
ORDER BY rnk"""


# ----------------------------------------------------------------------
# CUSUM change detection
# ----------------------------------------------------------------------

CU_K = 60_000_000  # drift allowance: $600k/day in cents
CU_H = 100_000_000  # alarm threshold: $1m cumulated excess


def q_feat_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM over daily order revenue per priority class
    (operators/timeseries.cusum_detect): the sequential
    ``S_t = max(0, S_{t-1} + x_t − k)`` recurrence parallelized via the
    prefix identity S_t = C_t − min_{j≤t} C_j — two stacked windows on
    one entity-keyed sort, exact integer cents end to end."""
    from .operators.timeseries import cusum_detect

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents")
        )
    )
    return cusum_detect(
        daily, "prio", "day", "cents", drift_k=CU_K, threshold_h=CU_H
    ).select("prio", "day", "cents", "cusum", "alarm").orderBy(
        "prio", "day"
    )


_SQL_CUSUM = f"""
WITH daily AS (
  SELECT o_orderpriority AS prio,
         strftime(o_orderdate, '%Y-%m-%d') AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY 1, 2
),
c AS (
  SELECT prio, day, cents,
         CAST(sum(cents - {CU_K}) OVER
           (PARTITION BY prio ORDER BY day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cc
  FROM daily
),
m AS (
  SELECT prio, day, cents, cc,
         least(CAST(min(cc) OVER (PARTITION BY prio ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS BIGINT),
               CAST(0 AS BIGINT)) AS mn
  FROM c
)
SELECT prio, day, cents,
       greatest(cc - mn, 0) AS cusum,
       CASE WHEN greatest(cc - mn, 0) > {CU_H} THEN 1 ELSE 0 END AS alarm
FROM m ORDER BY prio, day"""


# ----------------------------------------------------------------------
# Rare-category collapsing audit
# ----------------------------------------------------------------------

RARE_MIN = 50


def q_feat_collapse_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-tail collapsing of the per-customer category (nation ×
    segment) on orders (operators/sampling.collapse_rare): categories
    under 50 occurrences fold into __OTHER__; the audit emits the final
    category census — the pre-encoding step that bounds a feature
    matrix when the raw dimension is unbounded."""
    from .operators.sampling import collapse_rare

    cu = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat_ws(
            "/", F.col("c_nationkey").cast("string"), F.col("c_mktsegment")
        ).alias("cat"),
    )
    od = load_table(spark, sf_dir, "orders").join(
        F.broadcast(cu), F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        collapse_rare(od, "cat", min_count=RARE_MIN)
        .groupBy("cat")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cat")
    )


_SQL_COLLAPSE_RARE = f"""
WITH od AS (
  SELECT concat_ws('/', CAST(c_nationkey AS VARCHAR), c_mktsegment)
           AS cat
  FROM orders JOIN customer ON o_custkey = c_custkey
),
counts AS (
  SELECT cat, CAST(count(*) AS BIGINT) AS cnt FROM od GROUP BY cat
)
SELECT CASE WHEN cnt >= {RARE_MIN} THEN od.cat
            ELSE '__OTHER__' END AS cat,
       CAST(count(*) AS BIGINT) AS n
FROM od JOIN counts USING (cat)
GROUP BY 1 ORDER BY cat"""


# ----------------------------------------------------------------------
# File-level source audit (input_file_name introspection)
# ----------------------------------------------------------------------


FA_BUCKETS = 6


def q_src_file_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write→introspect round trip: lineitem is written ONCE as a
    bucket-partitioned parquet layout (``l_orderkey % 6`` directories),
    read back, and audited at FILE granularity via
    ``input_file_name()`` — per bucket: rows, key range, exact revenue
    cents (the census a compaction/clustering planner reads before
    deciding layout work). The bucket index is recovered from the FILE
    PATH, so the gate proves BOTH that the partitioned writer routed
    exactly the right rows and that file-level introspection works;
    the oracle derives the same stats from the source view and never
    touches a file."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.expr(f"l_orderkey % {FA_BUCKETS}").alias("bucket"),
    )
    feed = _fresh_feed("file_audit")
    # ONE scan: bucket-pure shuffle + partitioned write (one directory
    # per bucket), instead of one filtered re-scan per bucket — the
    # review flagged the 6-scan form as pure wall-clock at sf1
    (
        li.repartition(FA_BUCKETS, F.col("bucket"))
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(feed)
    )
    back = spark.read.parquet(feed).select(
        F.regexp_extract(F.input_file_name(), r"bucket=(\d+)", 1)
        .cast("long")
        .alias("bucket"),
        "l_orderkey",
        "cents",
    )
    return (
        back.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_orderkey").alias("min_key"),
            F.max("l_orderkey").alias("max_key"),
            F.sum("cents").alias("sum_cents"),
        )
        .orderBy("bucket")
    )


_SQL_FILE_AUDIT = f"""
SELECT l_orderkey % {FA_BUCKETS} AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(min(l_orderkey) AS BIGINT) AS min_key,
       CAST(max(l_orderkey) AS BIGINT) AS max_key,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM lineitem
GROUP BY 1 ORDER BY 1"""


# ----------------------------------------------------------------------
# Co-grouped pandas reconciliation (cogroup API surface)
# ----------------------------------------------------------------------

CG_K = 100


def q_feat_cogroup_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-account two-ledger reconciliation through the cogroup API
    (operators/cogroup.cogroup_reconcile): events (value cents keyed by
    user_id mod 100) against orders (price cents keyed by o_custkey
    mod 100) — each key's rows from BOTH sources meet in one pandas
    function emitting an exact integer summary row. Arrow-batched
    Python on the input side, key-sized output; the integer arithmetic
    keeps it SQL-replayable end to end despite the Python boundary."""
    from .operators.cogroup import cogroup_reconcile

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("user_id") % CG_K).alias("k"),
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    od = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % CG_K).alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
    )
    return cogroup_reconcile(ev, od, "k", "vc", "pc").orderBy("key")


_SQL_COGROUP_RECON = f"""
WITH l AS (
  SELECT user_id % {CG_K} AS key,
         CAST(count(*) AS BIGINT) AS n_left,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
           AS sum_left
  FROM events GROUP BY 1
),
r AS (
  SELECT o_custkey % {CG_K} AS key,
         CAST(count(*) AS BIGINT) AS n_right,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS sum_right
  FROM orders GROUP BY 1
)
SELECT coalesce(l.key, r.key) AS key,
       coalesce(n_left, 0) AS n_left,
       coalesce(sum_left, 0) AS sum_left,
       coalesce(n_right, 0) AS n_right,
       coalesce(sum_right, 0) AS sum_right,
       coalesce(sum_left, 0) - coalesce(sum_right, 0) AS diff
FROM l FULL OUTER JOIN r ON l.key = r.key
ORDER BY key"""


# ----------------------------------------------------------------------
# Exact set-similarity join via prefix filtering (guaranteed recall)
# ----------------------------------------------------------------------


def q_dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact similarity join audited for its theorem:
    candidates from rarest-first prefixes + size filter
    (operators/dedup.prefix_filter_candidates), verified with exact
    Jaccard, compared against the all-pairs truth — ``exact_bp`` MUST
    be 10000 (100% recall is a theorem here, unlike LSH where
    dedup_lsh_recall measures a probabilistic trade-off). Also emits
    the pruning evidence: candidate count vs the truth path's quadratic
    pair space."""
    from .operators import dedup
    from .queries_data import JACCARD_N, JACCARD_T

    t_bp = int(round(JACCARD_T * 10000))
    docs = load_table(spark, sf_dir, "documents")
    # ONE tokenize+shingle scan feeds the truth path, the candidate
    # generator, and the verify — materialized here, consumed by all
    # three via the shingles= parameter (at production scale: a table)
    sh = dedup.doc_shingles(docs, shingle_n=JACCARD_N).localCheckpoint(
        eager=True
    )
    truth = dedup.ngram_jaccard_pairs(
        docs, shingle_n=JACCARD_N, threshold=JACCARD_T, shingles=sh
    ).select("id_a", "id_b")
    cands = dedup.prefix_filter_candidates(
        docs, shingle_n=JACCARD_N, threshold_bp=t_bp, shingles=sh
    )
    verified = dedup.ngram_jaccard_pairs(
        docs, shingle_n=JACCARD_N, threshold=JACCARD_T, candidates=cands,
        shingles=sh,
    ).select("id_a", "id_b")
    n_truth = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    n_cand = cands.agg(F.count(F.lit(1)).alias("n_candidates"))
    n_ver = truth.join(verified, ["id_a", "id_b"], "left_semi").agg(
        F.count(F.lit(1)).alias("n_verified")
    )
    return (
        n_truth.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_ver))
        .select(
            "n_truth",
            "n_candidates",
            "n_verified",
            F.expr("(n_verified * 10000) div n_truth").alias("exact_bp"),
        )
    )


def _sql_prefix_join() -> str:
    from .queries_data import (
        _DUCK_TOKS,
        _SQL_DEDUP_JACCARD,
        JACCARD_N,
        JACCARD_T,
        _duck_shingles,
    )

    t_bp = int(round(JACCARD_T * 10000))
    return f"""
WITH sh AS (
  SELECT doc_id AS id, unnest(list_distinct({_duck_shingles(JACCARD_N)}))
           AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
),
sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY id),
dfreq AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS dfx FROM sh GROUP BY shingle
),
ranked AS (
  SELECT sh.id, sh.shingle, sizes.n,
         row_number() OVER (PARTITION BY sh.id
                            ORDER BY dfreq.dfx ASC, sh.shingle ASC)
           AS rk
  FROM sh JOIN dfreq USING (shingle) JOIN sizes ON sizes.id = sh.id
),
-- asymmetric prefixes (PPJoin index-prefix optimization, mirrored
-- from operators/dedup.prefix_filter_candidates): the PROBING side
-- keeps the full Jaccard prefix n - ceil(t*n) + 1; the INDEXED side —
-- always the size-or-smaller partner — only needs
-- n - ceil(2t/(1+t)*n) + 1
probe AS (
  SELECT id, shingle, n, rk FROM ranked
  WHERE rk <= n - ((n * {t_bp} + 9999) // 10000) + 1
),
idx AS (
  SELECT id, shingle, n, rk FROM ranked
  WHERE rk <= n - ((n * {2 * t_bp} + {10000 + t_bp} - 1)
                   // {10000 + t_bp}) + 1
),
-- ppjoin positional filter twin: |P| shared prefix tokens plus the
-- suffix after w* (the most frequent one, = max rank both sides);
-- |A∩B| <= |P| + min(n_a-rk_a(w*), n_b-rk_b(w*)) must reach the
-- Jaccard floor t/(1+t)*(n_a+n_b)
cands AS (
  SELECT least(id_a, id_b) AS id_a, greatest(id_a, id_b) AS id_b FROM (
    SELECT a.id AS id_a, b.id AS id_b, a.n AS na, b.n AS nb,
           CAST(count(*) AS BIGINT) AS p,
           max(a.rk) AS ra, max(b.rk) AS rb
    FROM probe a JOIN idx b ON a.shingle = b.shingle
    WHERE (b.n < a.n OR (b.n = a.n AND b.id < a.id))
      AND b.n * 10000 >= a.n * {t_bp}
    GROUP BY a.id, b.id, a.n, b.n
  )
  WHERE (p + least(na - ra, nb - rb)) * (10000 + {t_bp})
        >= (na + nb) * {t_bp}
),
truth AS (
  SELECT id_a, id_b FROM (
    {_SQL_DEDUP_JACCARD.strip()}
  )
),
t AS (
  SELECT
    (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
    (SELECT CAST(count(*) AS BIGINT) FROM cands) AS n_candidates,
    (SELECT CAST(count(*) AS BIGINT) FROM truth tr
      WHERE EXISTS (SELECT 1 FROM cands c
                    WHERE c.id_a = tr.id_a AND c.id_b = tr.id_b))
      AS n_verified
)
SELECT n_truth, n_candidates, n_verified,
       (n_verified * 10000) // n_truth AS exact_bp
FROM t"""


# ----------------------------------------------------------------------
# Mergeable-sketch SET ALGEBRA: union/intersection cardinality estimates
# ----------------------------------------------------------------------

SO_M = 4096
SO_SALT = "lc"


def q_rel_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set algebra on MERGED linear-counting sketches: per event-type
    pair, estimate |A∪B| from the union of the two occupied-bucket sets
    (sketch merge = set union of buckets — the mergeability that lets
    per-day/per-executor sketches combine exactly) and |A∩B| by
    inclusion–exclusion, side by side with the exact distinct-user
    counts. At 100 TB the exact columns are the expensive path this
    sketch replaces: audiences' overlaps from m-bounded state instead
    of a users×types distinct shuffle per pair. Estimate columns follow
    the established linear-count idiom (round(-m·ln(empty/m), 6));
    inclusion–exclusion is additions of those identical doubles, so it
    is engine-exact."""
    from .operators.sketches import md5_bucket

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"),
        F.col("user_id").alias("u"),
        md5_bucket(F.col("user_id"), SO_M, SO_SALT).alias("b"),
    )
    occ = ev.select("t", "b").distinct()
    users = ev.select("t", "u").distinct()

    def est(col):
        # saturation guard (same rule as sketches.linear_count): a full
        # counter estimates NULL on BOTH engines — Spark's log(0) is a
        # silent NULL but DuckDB's ln(0) is a hard error, so the guard
        # is what keeps the two engines aligned at high cardinality
        empty = (F.lit(SO_M) - col).cast("double")
        return F.when(
            col < F.lit(SO_M),
            F.round(
                -F.lit(float(SO_M)) * F.log(empty / F.lit(float(SO_M))),
                6,
            ),
        ).otherwise(F.lit(None).cast("double"))

    occ_n = occ.groupBy("t").agg(F.count(F.lit(1)).alias("occ"))
    ex_n = users.groupBy("t").agg(F.count(F.lit(1)).alias("exact"))
    # DENSE pair axis from the label set itself: a fully disjoint pair
    # (zero shared buckets AND zero shared users) must still emit a row
    # with exact_inter = 0 — deriving pairs from the shared-join output
    # would silently drop it (review finding, round 4)
    labels = occ.select(F.col("t")).distinct()
    pairs = (
        labels.select(F.col("t").alias("a"))
        .crossJoin(labels.select(F.col("t").alias("bt")))
        .where(F.col("a") < F.col("bt"))
    )
    oa = occ.select(F.col("t").alias("a"), "b")
    ob = occ.select(F.col("t").alias("b_t"), "b")
    shared_b = (
        oa.join(ob, "b")
        .where(F.col("a") < F.col("b_t"))
        .groupBy("a", F.col("b_t").alias("bt"))
        .agg(F.count(F.lit(1)).alias("shared_occ"))
    )
    ua = users.select(F.col("t").alias("a"), "u")
    ub = users.select(F.col("t").alias("b_t"), "u")
    shared_u = (
        ua.join(ub, "u")
        .where(F.col("a") < F.col("b_t"))
        .groupBy("a", F.col("b_t").alias("bt"))
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    j = (
        pairs.join(shared_b, ["a", "bt"], "left")
        .join(shared_u, ["a", "bt"], "left")
        .na.fill({"shared_occ": 0, "exact_inter": 0})
        .join(
            occ_n.select(F.col("t").alias("a"), F.col("occ").alias("occ_a")),
            "a",
        )
        .join(
            occ_n.select(
                F.col("t").alias("bt"), F.col("occ").alias("occ_b")
            ),
            "bt",
        )
        .join(
            ex_n.select(F.col("t").alias("a"), F.col("exact").alias("exact_a")),
            "a",
        )
        .join(
            ex_n.select(
                F.col("t").alias("bt"), F.col("exact").alias("exact_b")
            ),
            "bt",
        )
    )
    union_occ = F.col("occ_a") + F.col("occ_b") - F.col("shared_occ")
    return j.select(
        F.col("a").alias("type_a"),
        F.col("bt").alias("type_b"),
        "exact_a",
        "exact_b",
        "exact_inter",
        est(F.col("occ_a")).alias("est_a"),
        est(F.col("occ_b")).alias("est_b"),
        est(union_occ).alias("est_union"),
        (
            est(F.col("occ_a")) + est(F.col("occ_b")) - est(union_occ)
        ).alias("est_inter"),
    ).orderBy("type_a", "type_b")


def _sql_sketch_setops() -> str:
    b = (
        f"CAST(concat('0x', substr(md5(concat(CAST(u AS VARCHAR), "
        f"'{SO_SALT}')), 1, 8)) AS BIGINT) % {SO_M}"
    )

    def est(expr: str) -> str:
        return (
            f"CASE WHEN ({expr}) < {SO_M} THEN "
            f"round(-{SO_M}.0 * ln(({SO_M} - ({expr})) / {SO_M}.0), 6) "
            f"ELSE NULL END"
        )

    return f"""
WITH ev AS (
  SELECT event_type AS t, user_id AS u, {b} AS bkt
  FROM (SELECT event_type, user_id FROM events)
),
occ AS (SELECT DISTINCT t, bkt FROM ev),
users AS (SELECT DISTINCT t, u FROM ev),
occ_n AS (SELECT t, CAST(count(*) AS BIGINT) AS occ FROM occ GROUP BY t),
ex_n AS (SELECT t, CAST(count(*) AS BIGINT) AS exact FROM users GROUP BY t),
shared_b AS (
  SELECT a.t AS ta, c.t AS tb, CAST(count(*) AS BIGINT) AS shared_occ
  FROM occ a JOIN occ c ON a.bkt = c.bkt AND a.t < c.t
  GROUP BY 1, 2
),
shared_u AS (
  SELECT a.t AS ta, c.t AS tb, CAST(count(*) AS BIGINT) AS exact_inter
  FROM users a JOIN users c ON a.u = c.u AND a.t < c.t
  GROUP BY 1, 2
),
labels AS (SELECT DISTINCT t FROM occ),
pairs AS (
  SELECT a.t AS ta, c.t AS tb
  FROM labels a JOIN labels c ON a.t < c.t
),
j AS (
  SELECT p.ta, p.tb,
         coalesce(sb.shared_occ, 0) AS shared_occ,
         coalesce(su.exact_inter, 0) AS exact_inter
  FROM pairs p
  LEFT JOIN shared_b sb ON sb.ta = p.ta AND sb.tb = p.tb
  LEFT JOIN shared_u su ON su.ta = p.ta AND su.tb = p.tb
)
SELECT j.ta AS type_a, j.tb AS type_b,
       ea.exact AS exact_a, eb.exact AS exact_b, j.exact_inter,
       {est('oa.occ')} AS est_a,
       {est('ob.occ')} AS est_b,
       {est('oa.occ + ob.occ - j.shared_occ')} AS est_union,
       {est('oa.occ')} + {est('ob.occ')}
         - {est('oa.occ + ob.occ - j.shared_occ')} AS est_inter
FROM j
JOIN occ_n oa ON oa.t = j.ta
JOIN occ_n ob ON ob.t = j.tb
JOIN ex_n ea ON ea.t = j.ta
JOIN ex_n eb ON eb.t = j.tb
ORDER BY type_a, type_b"""


# ----------------------------------------------------------------------
# Linear (equal-credit) multi-touch attribution
# ----------------------------------------------------------------------


def q_rel_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — the other canonical model next
    to ``rel_attribution``'s last-touch: every click belongs to the
    user's NEXT purchase (one forward ignore-nulls window over the same
    union layout; no inequality join), each purchase splits 1e6 ppm of
    credit EQUALLY over its touches by integer division, and the
    truncation remainder is reported as ``residual_ppm`` (exact
    bookkeeping: n_touch·credit_ppm + residual_ppm = 1e6 always —
    integer credit is how the sum stays partition-order-proof where
    float 1/n credits would not). Purchases with no preceding click
    carry the full residual."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.lit(None).cast("long").alias("buy_id"),
        F.lit(None).cast("long").alias("cents"),
        F.lit(0).alias("_side"),
        F.col("event_id").alias("_eid"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.col("event_id").alias("buy_id"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.lit(1).alias("_side"),
        F.col("event_id").alias("_eid"),
    )
    m = clicks.unionByName(buys)
    wf = (
        Window.partitionBy("user_id")
        .orderBy("t", "_side", "_eid")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    nb = m.withColumn(
        "next_buy", F.first("buy_id", ignorenulls=True).over(wf)
    )
    touches = (
        nb.where((F.col("_side") == 0) & F.col("next_buy").isNotNull())
        .groupBy(F.col("next_buy").alias("buy_id"))
        .agg(F.count(F.lit(1)).alias("n_touch"))
    )
    out = (
        buys.select("user_id", "buy_id", "cents")
        .join(touches, "buy_id", "left")
        .na.fill({"n_touch": 0})
        .select(
            "user_id",
            "buy_id",
            "cents",
            "n_touch",
            F.expr(
                "CASE WHEN n_touch > 0 THEN 1000000 div n_touch"
                " ELSE 0 END"
            ).alias("credit_ppm"),
            F.expr(
                "1000000 - n_touch * (CASE WHEN n_touch > 0"
                " THEN 1000000 div n_touch ELSE 0 END)"
            ).alias("residual_ppm"),
        )
        .orderBy("buy_id")
    )
    return out


_SQL_ATTRIBUTION_LINEAR = """
WITH m AS (
  SELECT user_id, epoch_us(ts) AS t, NULL::BIGINT AS buy_id,
         NULL::BIGINT AS cents, 0 AS _side, event_id AS _eid
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, epoch_us(ts), event_id,
         CAST(round(value * 100) AS BIGINT), 1, event_id
  FROM events WHERE event_type = 'purchase'
),
nb AS (
  SELECT *, first_value(buy_id IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY t, _side, _eid
    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
  ) AS next_buy
  FROM m
),
touches AS (
  SELECT next_buy AS buy_id, CAST(count(*) AS BIGINT) AS n_touch
  FROM nb WHERE _side = 0 AND next_buy IS NOT NULL
  GROUP BY next_buy
),
buys AS (
  SELECT user_id, event_id AS buy_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
)
SELECT b.user_id, b.buy_id, b.cents,
       coalesce(t.n_touch, 0) AS n_touch,
       CASE WHEN coalesce(t.n_touch, 0) > 0
            THEN 1000000 // t.n_touch ELSE 0 END AS credit_ppm,
       1000000 - coalesce(t.n_touch, 0)
         * (CASE WHEN coalesce(t.n_touch, 0) > 0
                 THEN 1000000 // t.n_touch ELSE 0 END) AS residual_ppm
FROM buys b LEFT JOIN touches t USING (buy_id)
ORDER BY buy_id"""


# ----------------------------------------------------------------------
# registry
# ----------------------------------------------------------------------

QUERIES11: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "cv_auc_price": q_cv_auc_price,
    "feat_gap_detect": q_feat_gap_detect,
    "dq_benford": q_dq_benford,
    "text_inverted_index": q_text_inverted_index,
    "rel_table_fingerprint": q_rel_table_fingerprint,
    "rel_snapshot_diff": q_rel_snapshot_diff,
    "cv_calibration_bins": q_cv_calibration_bins,
    "feat_mutual_info": q_feat_mutual_info,
    "rel_rolling_distinct": q_rel_rolling_distinct,
    "dq_ab_chi2": q_dq_ab_chi2,
    "rel_markov_transitions": q_rel_markov_transitions,
    "stream_fingerprint": q_stream_fingerprint,
    "stream_auc": q_stream_auc,
    "feat_weighted_median": q_feat_weighted_median,
    "rel_repair_plan": q_rel_repair_plan,
    "feat_interpolate": q_feat_interpolate,
    "dq_sample_error": q_dq_sample_error,
    "rel_shortest_path": q_rel_shortest_path,
    "dq_ndv_profile": q_dq_ndv_profile,
    "dedup_lsh_recall": q_dedup_lsh_recall,
    "pipe_quota_sample": q_pipe_quota_sample,
    "rel_top_paths": q_rel_top_paths,
    "feat_cusum": q_feat_cusum,
    "feat_collapse_rare": q_feat_collapse_rare,
    "src_file_audit": q_src_file_audit,
    "feat_cogroup_recon": q_feat_cogroup_recon,
    "dedup_prefix_join": q_dedup_prefix_join,
    "rel_sketch_setops": q_rel_sketch_setops,
    "rel_attribution_linear": q_rel_attribution_linear,
}


def oracles11() -> Dict[str, str]:
    return {
        "cv_auc_price": _SQL_AUC_PRICE,
        "feat_gap_detect": _SQL_GAP_DETECT,
        "dq_benford": _SQL_BENFORD,
        "text_inverted_index": _SQL_INVERTED_INDEX,
        "rel_table_fingerprint": _SQL_TABLE_FINGERPRINT,
        "rel_snapshot_diff": _SQL_SNAPSHOT_DIFF,
        "cv_calibration_bins": _sql_calibration_bins(),
        "feat_mutual_info": _SQL_MUTUAL_INFO,
        "rel_rolling_distinct": _SQL_ROLLING_DISTINCT,
        "dq_ab_chi2": _sql_ab_chi2(),
        "rel_markov_transitions": _SQL_MARKOV,
        "stream_fingerprint": _SQL_STREAM_FINGERPRINT,
        "stream_auc": _sql_stream_auc(),
        "feat_weighted_median": _SQL_WEIGHTED_MEDIAN,
        "rel_repair_plan": _sql_repair_plan(),
        "feat_interpolate": _SQL_INTERPOLATE,
        "dq_sample_error": _sql_sample_error(),
        "rel_shortest_path": _sql_shortest_path(),
        "dq_ndv_profile": _SQL_NDV_PROFILE,
        "dedup_lsh_recall": _sql_lsh_recall(),
        "pipe_quota_sample": _sql_quota_sample(),
        "rel_top_paths": _SQL_TOP_PATHS,
        "feat_cusum": _SQL_CUSUM,
        "feat_collapse_rare": _SQL_COLLAPSE_RARE,
        "src_file_audit": _SQL_FILE_AUDIT,
        "feat_cogroup_recon": _SQL_COGROUP_RECON,
        "dedup_prefix_join": _sql_prefix_join(),
        "rel_sketch_setops": _sql_sketch_setops(),
        "rel_attribution_linear": _SQL_ATTRIBUTION_LINEAR,
    }
