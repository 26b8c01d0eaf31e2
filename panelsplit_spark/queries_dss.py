"""Declared-query registry, part 6: subquery-shaped decision support
(EXISTS / scalar-subquery / HAVING — TPC-H Q4/Q12/Q14/Q18/Q22 analogs),
corpus contamination screening, the distributed Gram-matrix reduction,
and the built-in ``session_window`` streaming aggregate.

Why these exist: part 5 covered the join-tree shapes; this part covers
the *subquery* shapes a SQL surface must plan well — correlated EXISTS
(semi join, never a per-row probe), anti-join + scalar aggregate
(broadcast of a 1-row frame), conditional aggregation (codegen'd CASE
inside the agg buffer, one pass), and group-filter HAVING — plus the two
numeric pipeline reductions (contamination pairs, Gram cells) that feed
LLM-corpus hygiene and PCA/whitening.

Scale notes (100 TB):

* Q4: the EXISTS probe is a LEFT SEMI hash join on orderkey with the
  extra time predicate riding the join — one shuffle, each order emitted
  at most once regardless of matching line count.
* Q12/Q14: single fact shuffle (lineitem⋈orders / broadcast part), all
  conditional logic inside map-side partial aggregation.
* Q18: the IN-subquery collapses to groupBy(orderkey) + HAVING, then the
  surviving (tiny) key set re-joins the facts; threshold keeps the
  re-join broadcast-able.
* Q22: the global average is a 1-row aggregate broadcast to the filter
  (integer cross-multiplication, no float compare); "has no orders" is a
  broadcast anti join on the filtered customer set.
* Contamination: benchmark shingles broadcast — zero corpus shuffles
  (operators/dedup.ngram_contamination).
* Gram: the corpus reduces to d(d+1)/2 integer cells via per-batch numpy
  matmuls; only partial matrices cross the wire
  (operators/similarity.gram_matrix).
* session_window: built-in streaming session aggregation — state is one
  open session per (user, key-partition), watermark-evicted; this is the
  aggregate-only complement to the row-preserving custom
  ``stream_sessionize``.

Money/quantity flows through exact integer cents (module convention from
``queries.py``) so every hash compare is order-independent.
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F

from .sources.tables import load_table


from .functions.exact import cents as _cents  # noqa: E402


# ======================================================================
# TPC-H Q4 analog: order-priority checking (correlated EXISTS)
# ======================================================================

Q4_LATE_DAYS = 30


def q_rel_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders per priority, in one quarter, having at least one lineitem
    shipped more than 30 days after the order date.

    Plan shape: the correlated EXISTS is a LEFT SEMI hash join on
    orderkey with the late-ship predicate attached to the join — the
    order emits once however many lines match, and no per-row subquery
    ever executes. One shuffle; date filter pushed to the orders scan."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (
            li.l_shipdate
            > orders.o_orderdate + F.expr(f"INTERVAL {Q4_LATE_DAYS} DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_SQL_TPCH_Q4 = f"""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1998-01-01'
  AND o_orderdate < TIMESTAMP '1998-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL {Q4_LATE_DAYS} DAY
  )
GROUP BY o_orderpriority
"""


# ======================================================================
# TPC-H Q12 analog: shipping priority classes (conditional aggregation)
# ======================================================================


def q_rel_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per line status for one ship year: how many lines belong to
    high-priority vs other orders.

    Plan shape: one lineitem⋈orders shuffle; both CASE counts evaluate
    inside the same map-side partial aggregate — one pass, no second
    scan for the second bucket."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_SQL_TPCH_Q12 = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
GROUP BY l_linestatus
"""


# ======================================================================
# TPC-H Q14 analog: promotion effect (aggregate ratio)
# ======================================================================


def q_rel_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of one month's revenue coming from PROMO parts.

    Plan shape: part is broadcast; numerator and denominator are exact
    integer cents accumulated in ONE partial aggregate; the final ratio
    is a single deterministic double division of two exact longs —
    bit-identical on any engine."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    agg = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
            ).alias("promo_cents"),
            F.sum(rev).alias("total_cents"),
        )
    )
    return agg.select(
        "promo_cents",
        "total_cents",
        F.round(
            100.0 * F.col("promo_cents") / F.col("total_cents"), 6
        ).alias("promo_pct"),
    )


_SQL_TPCH_Q14 = """
SELECT promo_cents, total_cents,
       round(100.0 * promo_cents / total_cents, 6) AS promo_pct
FROM (
  SELECT
    CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
             AS BIGINT)) AS BIGINT) AS total_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1998-03-01'
    AND l_shipdate < TIMESTAMP '1998-04-01'
)
"""


# ======================================================================
# TPC-H Q18 analog: large-volume customers (HAVING group filter)
# ======================================================================

Q18_QTY_CENTS = 260 * 100


def q_rel_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers whose single orders total more than 260 units.

    Plan shape: the IN-subquery is groupBy(orderkey) + HAVING over
    exact integer quantity-cents — one fact shuffle; the surviving key
    set (~top 1 % of orders) is broadcast back against orders⋈customer,
    so the facts are never shuffled a second time."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_cents(F.col("l_quantity"))).alias("qty_cents"))
        .filter(F.col("qty_cents") > Q18_QTY_CENTS)
    )
    return (
        orders.join(
            F.broadcast(big), orders.o_orderkey == big.l_orderkey
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            _cents(F.col("o_totalprice")).alias("totalprice_cents"),
            "qty_cents",
        )
    )


_SQL_TPCH_Q18 = f"""
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents,
       big.qty_cents
FROM orders
JOIN (
  SELECT l_orderkey,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents
  FROM lineitem GROUP BY l_orderkey
  HAVING sum(CAST(round(l_quantity * 100) AS BIGINT)) > {Q18_QTY_CENTS}
) big ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# ======================================================================
# TPC-H Q22 analog: global-sales opportunity (scalar subquery + anti)
# ======================================================================


Q22_LAPSE_CUTOFF = "2000-01-01"


def q_rel_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: lapsed high-value customers — above-average positive
    balance, no orders since the cutoff.

    Plan shape: the scalar subquery (average positive balance) is a
    1-row aggregate cross-joined (broadcast) into the filter; the
    comparison is integer cross-multiplication
    (``balance·n > total`` ⇔ ``balance > total/n``) so no float average
    is ever compared; "no recent orders" is a broadcast LEFT ANTI join
    on the date-filtered order custkeys (filter pushed to the scan)."""
    cust = load_table(spark, sf_dir, "customer").withColumn(
        "acctbal_cents", _cents(F.col("c_acctbal"))
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit(Q22_LAPSE_CUTOFF).cast("timestamp")
    )
    avg_row = cust.filter(F.col("acctbal_cents") > 0).agg(
        F.sum("acctbal_cents").alias("_tot"),
        F.count(F.lit(1)).alias("_n"),
    )
    rich = (
        cust.crossJoin(F.broadcast(avg_row))
        .filter(F.col("acctbal_cents") * F.col("_n") > F.col("_tot"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    )
    return rich.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum("acctbal_cents").alias("totacctbal_cents"),
    )


_SQL_TPCH_Q22 = f"""
SELECT c_nationkey, count(*) AS numcust,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_cents
FROM customer
WHERE CAST(round(c_acctbal * 100) AS BIGINT)
      * (SELECT count(*) FROM customer
         WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0)
      > (SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) FROM customer
         WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '{Q22_LAPSE_CUTOFF}')
GROUP BY c_nationkey
"""


# ======================================================================
# corpus contamination screening
# ======================================================================

CONTAM_N, CONTAM_MIN_SHARED, CONTAM_BENCH_MAX = 3, 3, 25


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Screen the corpus (doc_id ≥ 25) against a benchmark set
    (doc_id < 25): pairs sharing ≥ 3 distinct word trigrams.
    Benchmark shingles broadcast — zero corpus shuffles
    (operators/dedup.ngram_contamination)."""
    from .operators.dedup import ngram_contamination

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < CONTAM_BENCH_MAX)
    corpus = docs.filter(F.col("doc_id") >= CONTAM_BENCH_MAX)
    return ngram_contamination(
        corpus,
        bench,
        n=CONTAM_N,
        min_shared=CONTAM_MIN_SHARED,
    )


_SQL_CONTAMINATION = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(w[i:i+{CONTAM_N - 1}], ' ') AS g
  FROM toks, UNNEST(
    CASE WHEN len(w) >= {CONTAM_N}
         THEN range(1, len(w) - {CONTAM_N - 2}) ELSE [] END) AS t(i)
),
bench AS (SELECT doc_id AS bench_id, g FROM grams
          WHERE doc_id < {CONTAM_BENCH_MAX}),
corp  AS (SELECT doc_id, g FROM grams
          WHERE doc_id >= {CONTAM_BENCH_MAX})
SELECT c.doc_id, b.bench_id, count(*) AS n_shared
FROM corp c JOIN bench b USING (g)
GROUP BY 1, 2
HAVING count(*) >= {CONTAM_MIN_SHARED}
"""


# ======================================================================
# distributed Gram matrix (PCA/whitening reduction)
# ======================================================================

GRAM_SCALE = 1000.0


def q_emb_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer-quantized second-moment matrix of the embedding
    corpus — the one data-touching reduction under distributed PCA
    (operators/similarity.gram_matrix)."""
    from .operators.similarity import gram_matrix

    emb = load_table(spark, sf_dir, "embeddings")
    return gram_matrix(emb, vec_col="embedding", scale=GRAM_SCALE)


_SQL_EMB_GRAM = f"""
WITH q AS (
  SELECT vec_id, i AS pos,
         CAST(round(CAST(embedding[i] AS DOUBLE) * {GRAM_SCALE})
              AS BIGINT) AS qv
  FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
)
SELECT a.pos AS i, b.pos AS j, count(*) AS n,
       CAST(sum(a.qv * b.qv) AS BIGINT) AS sum_xy
FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.pos <= b.pos
GROUP BY a.pos, b.pos
"""


# ======================================================================
# distributed PCA (fit = Gram reduction + driver eigh; project = codegen)
# ======================================================================


PCA_K = 4


def q_emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit PCA on the embedding corpus (two exact integer reductions +
    d×d driver eigh) and project every vector onto the top-4 axes.

    Oracle-gated (sign-canonicalized replay): an eigendecomposition is
    not SQL-expressible, but the FIT is a pure function of two exact
    integer moment reductions the oracle CAN recompute independently —
    so ``_sql_pca_project`` has DuckDB rebuild the quantized Gram matrix
    and component sums from the raw parquet (the ``emb_gram`` gate
    proves those integers match Spark's), feeds them through the same
    deterministic driver math (``pca_from_moments``: IEEE double ops +
    ``eigh`` + largest-|loading|-positive sign fix — bit-identical given
    identical integers), inlines the resulting axes as SQL literals, and
    lets DuckDB do the projection arithmetic. The numpy differential
    test (tests/test_data_ops.py::test_pca_differential_vs_numpy)
    additionally pins the fit against an independent implementation."""
    from .operators.similarity import pca_fit, pca_project

    emb = load_table(spark, sf_dir, "embeddings")
    comps, mean, _ = pca_fit(emb, k=PCA_K, scale=GRAM_SCALE)
    out = pca_project(emb, comps, mean)
    return out.select(
        "vec_id",
        *[
            F.round(F.element_at("pc", i + 1), 6).alias(f"pc{i + 1}")
            for i in range(PCA_K)
        ],
    )


def _sql_pca_project() -> str:
    """Build the DuckDB twin of q_emb_pca_project (see its docstring).

    Reads the embeddings parquet for the sf dir the driver compares at
    (``PANELSPLIT_ORACLE_SF_DIR``, default the driver's sf0.01), so the
    inlined axis literals are fit on exactly the data the gate runs on.
    Raises if the parquet is unreadable — oracles6() then degrades this
    query to the rows-only check instead of failing the whole registry.
    """
    import os

    import duckdb
    import numpy as np

    from .operators.similarity import pca_from_moments

    sf_dir = os.environ.get(
        "PANELSPLIT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    path = os.path.join(sf_dir, "embeddings.parquet")
    con = duckdb.connect()
    scale = GRAM_SCALE
    cells = con.execute(
        f"""
        WITH q AS (
          SELECT vec_id, i AS pos,
                 CAST(round(CAST(embedding[i] AS DOUBLE) * {scale})
                      AS BIGINT) AS qv
          FROM read_parquet('{path}'),
               UNNEST(range(1, len(embedding) + 1)) AS t(i)
        )
        SELECT a.pos AS i, b.pos AS j, count(*) AS n,
               CAST(sum(a.qv * b.qv) AS BIGINT) AS sum_xy
        FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.pos <= b.pos
        GROUP BY a.pos, b.pos
        """
    ).fetchall()
    sums = con.execute(
        f"""
        SELECT i AS pos,
               CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * {scale})
                             AS BIGINT)) AS BIGINT) AS s
        FROM read_parquet('{path}'),
             UNNEST(range(1, len(embedding) + 1)) AS t(i)
        GROUP BY i
        """
    ).fetchall()
    con.close()
    d = max(r[0] for r in sums)
    n = cells[0][2]
    S = np.zeros((d, d))
    for i, j, _, sxy in cells:
        S[i - 1, j - 1] = sxy
        S[j - 1, i - 1] = sxy
    mu_q = np.zeros(d)
    for pos, s in sums:
        mu_q[pos - 1] = s
    comps, mean, _ = pca_from_moments(S, mu_q, n, PCA_K, scale)

    def lst(xs):
        return "[" + ", ".join(repr(float(x)) for x in xs) + "]::DOUBLE[]"

    axes = ",\n       ".join(
        f"{lst(c)} AS c{i + 1}" for i, c in enumerate(comps)
    )
    pcs = ",\n       ".join(
        f"""round(list_sum(list_transform(range(1, len(embedding) + 1),
             j -> (CAST(embedding[j] AS DOUBLE) - m.mu[j]) * m.c{i + 1}[j])),
           6) AS pc{i + 1}"""
        for i in range(PCA_K)
    )
    return f"""
WITH m AS (
  SELECT {lst(mean)} AS mu,
       {axes}
)
SELECT vec_id,
       {pcs}
FROM embeddings, m
"""


# ======================================================================
# distributed dense row key (positional-identity bridge at scale)
# ======================================================================


def q_feat_row_key_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based row key over lineitem in (orderkey, linenumber)
    order via the range-bucketed two-pass scheme — no single-partition
    sort anywhere (operators/application.with_row_key_distributed).
    Equals SQL ``row_number() OVER (ORDER BY …) - 1``, which is the
    oracle."""
    from .operators.application import with_row_key_distributed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    return with_row_key_distributed(
        li, ["l_orderkey", "l_linenumber"], n_buckets=16, eager=True
    )


_SQL_ROW_KEY_DIST = """
SELECT l_orderkey, l_linenumber,
       row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1
         AS row_key
FROM lineitem
"""


# ======================================================================
# built-in session_window streaming aggregate
# ======================================================================


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in streaming sessionization: ``F.session_window`` gap-merge
    aggregation per user (the aggregate-only complement to the
    row-preserving custom ``stream_sessionize``). State = the open
    session per user, merged/evicted by the watermark; on a closed
    availableNow input the result equals the batch lag+cumsum session
    aggregate, which is the oracle."""
    from .queries_data import SESSION_GAP_S
    from .sources.tables import configure, normalize_event_ts
    from .streaming.rolling import drain, file_stream, memory_sink

    configure(spark)

    # append-mode watermark eviction is batch-equal only under
    # event-time-monotone arrival: invariance re-chop is contiguous
    # (ts, event_id) ranges
    stream = file_stream(
        spark, sf_dir, "events", order_cols=["ts", "event_id"]
    )
    stream = normalize_event_ts(stream)
    sess = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.col("user_id"),
            F.session_window("ts", f"{SESSION_GAP_S} seconds"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_value_cents"
            ),
        )
    )
    name = "stream_session_window_sink"
    out = drain(spark, name, lambda: memory_sink(sess, name, "complete"))
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("start_us"),
        "n_events",
        "sum_value_cents",
    )


def _sql_stream_session_window() -> str:
    from .queries_data import SESSION_GAP_S

    return f"""
WITH e AS (
  SELECT user_id, value, epoch_us(ts) AS t FROM events
),
m AS (
  SELECT *, CASE WHEN t - lag(t) OVER w IS NULL
                   OR t - lag(t) OVER w > {SESSION_GAP_S * 1_000_000}
            THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t)
),
s AS (
  SELECT *, CAST(sum(is_new) OVER (
    PARTITION BY user_id ORDER BY t
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS session_id FROM m
)
SELECT user_id, min(t) AS start_us, count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM s GROUP BY user_id, session_id
"""


# ======================================================================
# correlated scalar subquery (decorrelated to a window aggregate)
# ======================================================================


def q_rel_orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders worth more than 1.5× their own customer's average order.

    The classic correlated-scalar-subquery shape. Spark-first execution
    DEcorrelates it: the per-customer aggregate is a window over the
    custkey partition — ONE shuffle of the orders table, no per-row
    subquery, no second scan. Comparison by integer cross-multiplication
    (``2·price·n > 3·total``), so no float average exists on either
    engine."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "price_cents", _cents(F.col("o_totalprice"))
    )
    w = Window.partitionBy("o_custkey")
    return (
        orders.withColumn("_tot", F.sum("price_cents").over(w))
        .withColumn("_n", F.count(F.lit(1)).over(w))
        .filter(
            F.col("price_cents") * 2 * F.col("_n") > F.col("_tot") * 3
        )
        .select("o_orderkey", "o_custkey", "price_cents")
    )


_SQL_ORDERS_ABOVE_CUST_AVG = """
SELECT o_orderkey, o_custkey,
       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
FROM orders o
WHERE CAST(round(o_totalprice * 100) AS BIGINT) * 2
      * (SELECT count(*) FROM orders o2
         WHERE o2.o_custkey = o.o_custkey)
      > 3 * (SELECT sum(CAST(round(o2.o_totalprice * 100) AS BIGINT))
             FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
"""


# ======================================================================
# unpivot / melt
# ======================================================================


def q_rel_unpivot_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt of customer numeric attributes via ``stack`` — a
    pure narrow projection (each row emits k rows in place, zero
    shuffles), the inverse of the pivot gate query."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        _cents(F.col("c_acctbal")).alias("acctbal_cents"),
        F.col("c_nationkey").cast("long").alias("nationkey"),
    )
    return cust.select(
        "c_custkey",
        F.expr(
            "stack(2, 'acctbal_cents', acctbal_cents,"
            " 'nationkey', nationkey) AS (metric, val)"
        ),
    )


_SQL_UNPIVOT_CUSTOMER = """
SELECT c_custkey, metric, val FROM (
  SELECT c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
         CAST(c_nationkey AS BIGINT) AS nationkey
  FROM customer
) UNPIVOT (val FOR metric IN (acctbal_cents, nationkey))
"""


# ======================================================================
# fixed-width histogram
# ======================================================================

HIST_BUCKET_CENTS = 5_000_000  # 50k currency units per bucket


def q_rel_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value histogram in fixed-width buckets: pure integer
    arithmetic + one partial-aggregated groupBy — the profiling scan a
    pipeline runs before choosing quantile thresholds."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor(
        _cents(F.col("o_totalprice")) / F.lit(HIST_BUCKET_CENTS)
    ).alias("bucket")
    return (
        orders.groupBy(bucket)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(_cents(F.col("o_totalprice"))).alias("min_cents"),
            F.max(_cents(F.col("o_totalprice"))).alias("max_cents"),
        )
    )


_SQL_PRICE_HISTOGRAM = f"""
SELECT CAST(floor(CAST(round(o_totalprice * 100) AS BIGINT)
                  / {HIST_BUCKET_CENTS}) AS BIGINT) AS bucket,
       count(*) AS n,
       min(CAST(round(o_totalprice * 100) AS BIGINT)) AS min_cents,
       max(CAST(round(o_totalprice * 100) AS BIGINT)) AS max_cents
FROM orders GROUP BY 1
"""

# ======================================================================
# streaming rolling refit: per-entity online linear regression
# ======================================================================


def q_stream_online_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rolling refit: each event scored by a linear model
    (value ~ hour-of-day) fitted on that user's strict event-time past,
    refit continuously from 5 exact integer moments of state — the
    streaming generalization of expanding-window panel CV. The oracle
    replays the identical integer moments as windowed SQL sums and the
    identical float64 slope/intercept expression, so the match is exact
    (streaming/rolling.stream_online_linreg)."""
    from .sources.tables import configure, normalize_event_ts
    from .streaming.rolling import (
        drain,
        file_stream,
        memory_sink,
        stream_online_linreg,
        stream_parts_for,
    )

    configure(spark)

    # the online recursion's per-row output depends on the processing
    # ORDER (each prediction uses prior-row moments): invariance re-chop
    # is contiguous (ts, event_id) ranges, replayed in order
    stream = file_stream(
        spark, sf_dir, "events", order_cols=["ts", "event_id"]
    )
    stream = normalize_event_ts(stream)
    feats = stream.select(
        "user_id",
        "ts",
        "event_id",
        F.hour("ts").cast("long").alias("qx"),
        F.round(F.col("value") * 100).cast("long").alias("qy"),
    )
    scored = stream_online_linreg(feats)
    name = "stream_online_linreg_sink"
    n_feed = load_table(spark, sf_dir, "events").count()
    out = drain(
        spark, name, lambda: memory_sink(scored, name, "update"),
        parts=stream_parts_for(spark, n_feed),
    )
    return out.select(
        "event_id",
        # operator emits NaN for not-yet-fittable rows (pandas float
        # column); normalize to NULL to match the SQL oracle
        F.when(F.isnan("pred"), F.lit(None))
        .otherwise(F.round("pred", 6))
        .alias("pred_cents"),
    )


_SQL_STREAM_ONLINE_LINREG = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS t,
         CAST(hour(ts) AS BIGINT) AS qx,
         CAST(round(value * 100) AS BIGINT) AS qy
  FROM events
),
m AS (
  SELECT event_id, qx,
         count(*) OVER w AS n,
         sum(qx) OVER w AS sx,
         sum(qy) OVER w AS sy,
         sum(qx * qx) OVER w AS sxx,
         sum(qx * qy) OVER w AS sxy
  FROM e WINDOW w AS (
    PARTITION BY user_id ORDER BY t, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  )
)
SELECT event_id,
       CASE WHEN n >= 2 AND n * sxx - sx * sx != 0 THEN
         round(
           (CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(qx AS DOUBLE)
           + (CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
       ELSE NULL END AS pred_cents
FROM m
"""


# ======================================================================
# SQL gateway: one dialect-shared text, two engines
# ======================================================================

# The SAME string is submitted verbatim to spark.sql AND to the DuckDB
# oracle — no translation layer. Pinning a shared ANSI subset (explicit
# casts, integer cents, no engine-specific functions) demonstrates the
# engine's SQL surface end-to-end: Catalyst parses, optimizes and
# codegen-executes the identical text a warehouse engine runs.
_SQL_GATEWAY = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
       min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS min_price_cents,
       max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS max_price_cents
FROM lineitem
WHERE l_discount BETWEEN 0.02 AND 0.08
GROUP BY l_returnflag, l_linestatus
"""


def q_rel_sql_gateway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.sql() path: register the corpus as temp views and run the
    ORACLE'S EXACT SQL text on Spark. Plan is identical to the
    DataFrame-API equivalent (same Catalyst pipeline): pushed filter,
    partial aggregation, one shuffle."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem"
    )
    return spark.sql(_SQL_GATEWAY)


# ======================================================================
# forward as-of join + full-outer reconciliation
# ======================================================================


def q_rel_asof_join_fwd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase picks up the user's NEXT view
    at-or-after it (operators/timeseries.asof_join direction='forward'
    — same union + ordered-window merge, mirrored; one shuffle, no
    theta join)."""
    from .operators.timeseries import asof_join
    from .queries_data import ASOF_L_TYPE, ASOF_R_TYPE

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == ASOF_L_TYPE).select(
        "event_id", "user_id", "ts"
    )
    views = ev.where(F.col("event_type") == ASOF_R_TYPE).select(
        F.col("event_id").alias("v_event_id"),
        "user_id",
        "ts",
        F.col("value").alias("v_value"),
    )
    out = asof_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["v_event_id", "v_value"],
        right_order=["v_event_id"],
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_v_event_id").alias("next_view_event_id"),
        F.unix_micros("asof_ts").alias("next_view_ts_us"),
        F.round("asof_v_value", 6).alias("next_view_value"),
    )


def _sql_asof_fwd() -> str:
    from .queries_data import ASOF_L_TYPE, ASOF_R_TYPE

    return f"""
WITH l AS (
  SELECT event_id AS l_event_id, user_id, epoch_us(ts) AS t,
         1 AS is_left, NULL::BIGINT AS r_event_id, NULL::DOUBLE AS r_value
  FROM events WHERE event_type = '{ASOF_L_TYPE}'
),
r AS (
  SELECT NULL::BIGINT, user_id, epoch_us(ts), 0, event_id, value
  FROM events WHERE event_type = '{ASOF_R_TYPE}'
),
u AS (SELECT * FROM l UNION ALL SELECT * FROM r),
m AS (
  SELECT *,
    first_value(r_event_id IGNORE NULLS) OVER w AS next_view_event_id,
    first_value(CASE WHEN is_left = 0 THEN t END IGNORE NULLS)
      OVER w AS next_view_ts_us,
    first_value(r_value IGNORE NULLS) OVER w AS next_value
  FROM u
  WINDOW w AS (
    PARTITION BY user_id ORDER BY t, is_left DESC, r_event_id NULLS LAST
    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
  )
)
SELECT l_event_id AS event_id, user_id, next_view_event_id,
       next_view_ts_us, round(next_value, 6) AS next_view_value
FROM m WHERE is_left = 1
"""


def q_rel_full_outer_recon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation: per-day purchase revenue FULL OUTER joined to
    per-day view counts — days present on either side survive, gaps
    COALESCE to zero. Two partial-aggregated shuffles + one join of two
    ~|days|-sized frames (broadcast-able at any corpus scale)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("day")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "purchase_cents"
            )
        )
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(F.col("day").alias("v_day"))
        .agg(F.count(F.lit(1)).alias("n_views"))
    )
    joined = purchases.join(
        views, purchases.day == views.v_day, "full_outer"
    )
    return joined.select(
        F.coalesce("day", "v_day").alias("day"),
        F.coalesce("purchase_cents", F.lit(0)).alias("purchase_cents"),
        F.coalesce("n_views", F.lit(0)).alias("n_views"),
    )


_SQL_FULL_OUTER_RECON = """
WITH p AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS purchase_cents
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
v AS (
  SELECT strftime(ts, '%Y-%m-%d') AS v_day, count(*) AS n_views
  FROM events WHERE event_type = 'view' GROUP BY 1
)
SELECT COALESCE(day, v_day) AS day,
       COALESCE(purchase_cents, 0) AS purchase_cents,
       COALESCE(n_views, 0) AS n_views
FROM p FULL OUTER JOIN v ON day = v_day
"""


# ======================================================================
# LLM sequence packing
# ======================================================================

PACK_BUDGET, PACK_SHARDS = 2048, 4


def q_pipe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack the documents corpus into fixed-token-budget training
    sequences: md5-sharded, id-ordered concat-then-chunk layout —
    byte-reproducible on any topology (operators/sampling.pack_sequences,
    token counts from operators/text.text_stats)."""
    from .operators.sampling import pack_sequences
    from .operators.text import text_stats

    docs = load_table(spark, sf_dir, "documents")
    toks = text_stats(docs, "text").select(
        "doc_id", F.col("n_ws_tokens").cast("long").alias("n_tokens")
    )
    out = pack_sequences(
        toks, "n_tokens", PACK_BUDGET, id_col="doc_id",
        n_shards=PACK_SHARDS,
    )
    return out.select("doc_id", "n_tokens", "shard", "seq", "offset")


_SQL_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id, CAST(len(string_split(lower(text), ' ')) AS BIGINT)
           AS n_tokens,
         CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
              AS BIGINT) % {PACK_SHARDS} AS INTEGER) AS shard
  FROM documents
),
runs AS (
  SELECT *, sum(n_tokens) OVER (
    PARTITION BY shard ORDER BY doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) - n_tokens AS start
  FROM toks
)
SELECT doc_id, n_tokens, shard,
       CAST(floor(start / {PACK_BUDGET}) AS BIGINT) AS seq,
       CAST(start % {PACK_BUDGET} AS BIGINT) AS offset
FROM runs
"""


# ======================================================================
# duplicate-cluster curation: keep the best member
# ======================================================================


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation composition: MinHash-LSH pairs → connected components →
    per cluster keep the LONGEST member (whitespace tokens, min doc_id
    tiebreak — integer-exact on every engine). The decision rule real
    pipelines apply after near-dup clustering: drop all but the best
    representative. Cluster frame is duplicate-sized (tiny vs corpus);
    the keep-best argmax is one max_by hash aggregate (no sort, partial
    map-side aggregation) over (id, cluster, n_tokens)."""
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
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).cast("long").alias(
            "n_tokens"
        ),
    )
    member = clusters.join(
        toks, clusters.id == toks.doc_id
    )
    # keep-best as ONE hash aggregate (round-10, guide §2.3/§2.4): the
    # old row_number window + groupBy shared the cluster exchange but
    # paid a full sort and shuffled every member row; max_by over the
    # (n_tokens, -doc_id) struct is the same argmax (longest member,
    # min-id tiebreak — the struct key is UNIQUE per row, so partial
    # map-side aggregation is deterministic) and keep_tokens is just
    # the max n_tokens. Sort removed; the exchange now carries one
    # partial row per (cluster, map partition) instead of all members.
    best = F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("_ni"))
    return member.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max_by("doc_id", best).alias("keep_id"),
        F.max("n_tokens").alias("keep_tokens"),
    )


def _sql_dedup_keep_best() -> str:
    from .queries_nlp import _sql_dedup_clusters

    return f"""
WITH clust AS (
  {_sql_dedup_clusters().strip()}
),
member AS (
  SELECT c.id, c.cluster,
         CAST(len(string_split(lower(d.text), ' ')) AS BIGINT)
           AS n_tokens
  FROM clust c JOIN documents d ON c.id = d.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY cluster ORDER BY n_tokens DESC, id ASC) AS rk
  FROM member
)
SELECT cluster, count(*) AS n_members,
       max(CASE WHEN rk = 1 THEN id END) AS keep_id,
       max(CASE WHEN rk = 1 THEN n_tokens END) AS keep_tokens
FROM ranked GROUP BY cluster
"""


# ======================================================================
# SCD2 / temporal validity intervals
# ======================================================================


def q_rel_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) assembly from the event log:
    each user's purchase history becomes validity intervals
    [valid_from, valid_to) with the NULL-terminated current row — the
    lead() window over the user partition, one shuffle. This is how a
    temporal dimension table is built from a change stream; the as-of
    join then serves point-in-time lookups against it."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        (F.lead("ts").over(w).isNull()).alias("is_current"),
    )


_SQL_SCD2_INTERVALS = """
SELECT user_id, event_id,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER w) AS valid_to_us,
       CAST(round(value * 100) AS BIGINT) AS value_cents,
       lead(ts) OVER w IS NULL AS is_current
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


# ======================================================================
# weighted CV fit (sample_weight through the closed-form path)
# ======================================================================


def q_cv_weighted_ols_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold WEIGHTED OLS (value ~ hour-of-day, w = 1 + event_id%5)
    through the distributed moment-aggregate fast path — exercises the
    sample_weight contract end-to-end under the oracle gate. Oracle =
    the weighted normal equations over the same fold assignment."""
    from .estimators import LinearRegression
    from .operators.application import cross_val_fit_predict
    from .queries import _events_cv

    ev, ps = _events_cv(spark, sf_dir)
    ev = ev.withColumn(
        "w", (F.lit(1) + F.col("event_id") % 5).cast("double")
    )
    preds, _ = cross_val_fit_predict(
        LinearRegression(), ev, ["hod"], "value", ps,
        sample_weight_col="w", keep_cols=["event_id"],
    )
    return preds.select(
        "event_id",
        F.col("fold_id").cast("long").alias("fold_id"),
        F.round("prediction", 6).alias("pred"),
    )


def _sql_cv_weighted_ols() -> str:
    from .queries import _FOLD_CTE

    return f"""
WITH {_FOLD_CTE},
wfit AS (
  SELECT a.fold_id,
         CAST(sum(1.0 + e.event_id % 5) AS BIGINT) AS sw,
         CAST(sum((1.0 + e.event_id % 5) * e.hod) AS BIGINT) AS swx,
         sum((1.0 + e.event_id % 5) * e.value) AS swy,
         CAST(sum((1.0 + e.event_id % 5) * e.hod * e.hod) AS BIGINT) AS swxx,
         sum((1.0 + e.event_id % 5) * e.hod * e.value) AS swxy
  FROM assign a JOIN ev e ON e.period = a.period
  WHERE a.role = 'train' GROUP BY a.fold_id
),
coef AS (
  SELECT fold_id,
         (sw * swxy - swx * swy) / (sw * swxx - swx * swx) AS b1,
         (swy - (sw * swxy - swx * swy) / (sw * swxx - swx * swx) * swx)
           / sw AS b0
  FROM wfit
)
SELECT e.event_id, a.fold_id, round(c.b0 + c.b1 * e.hod, 6) AS pred
FROM assign a
JOIN ev e ON e.period = a.period
JOIN coef c ON c.fold_id = a.fold_id
WHERE a.role = 'test'
"""


# ======================================================================
# unigram-LM quality scoring (perplexity filter)
# ======================================================================


def q_text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM log-likelihood per document (CCNet-
    style perplexity filtering). Log-probs are quantized to integer
    micro-units so the per-doc sums are exact and engine-independent
    (operators/text.lm_unigram_score)."""
    from .operators.text import lm_unigram_score

    docs = load_table(spark, sf_dir, "documents")
    return lm_unigram_score(docs)


_SQL_TEXT_LM_SCORE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT sum(c) AS T, count(*) AS V FROM vocab),
scored AS (
  SELECT t.doc_id,
         CAST(round(ln(CAST(v.c + 1 AS DOUBLE)
                       / CAST(tot.T + tot.V AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS q
  FROM toks t JOIN vocab v USING (tok), tot
)
SELECT doc_id, count(*) AS n_tokens, CAST(sum(q) AS BIGINT) AS logprob_micro,
       CAST(sum(q) AS BIGINT) / 1000000.0 / count(*) AS avg_logprob
FROM scored GROUP BY doc_id
"""


# ======================================================================
# Z-order (Morton) clustering key
# ======================================================================


def q_rel_morton_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key over (user_id, hour-of-day): the
    write-time sort key that makes parquet row-group min/max statistics
    prune on EITHER dimension (functions/exact.morton_code — pure
    codegen'd bit arithmetic, zero shuffles)."""
    from .functions.exact import morton_code

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("user_id"),
        F.hour("ts").cast("long").alias("hod"),
        morton_code(F.col("user_id"), F.hour("ts")).alias("zkey"),
    )


_SQL_MORTON_LAYOUT = """
WITH e AS (
  SELECT event_id, user_id,
         CAST(hour(ts) AS BIGINT) AS hod,
         user_id & 65535 AS a,
         CAST(hour(ts) AS BIGINT) & 65535 AS b
  FROM events
)
SELECT event_id, user_id, hod,
       CAST((((a >> 0) & 1) << 0) | (((b >> 0) & 1) << 1) | (((a >> 1) & 1) << 2) | (((b >> 1) & 1) << 3) | (((a >> 2) & 1) << 4) | (((b >> 2) & 1) << 5) | (((a >> 3) & 1) << 6) | (((b >> 3) & 1) << 7) | (((a >> 4) & 1) << 8) | (((b >> 4) & 1) << 9) | (((a >> 5) & 1) << 10) | (((b >> 5) & 1) << 11) | (((a >> 6) & 1) << 12) | (((b >> 6) & 1) << 13) | (((a >> 7) & 1) << 14) | (((b >> 7) & 1) << 15) | (((a >> 8) & 1) << 16) | (((b >> 8) & 1) << 17) | (((a >> 9) & 1) << 18) | (((b >> 9) & 1) << 19) | (((a >> 10) & 1) << 20) | (((b >> 10) & 1) << 21) | (((a >> 11) & 1) << 22) | (((b >> 11) & 1) << 23) | (((a >> 12) & 1) << 24) | (((b >> 12) & 1) << 25) | (((a >> 13) & 1) << 26) | (((b >> 13) & 1) << 27) | (((a >> 14) & 1) << 28) | (((b >> 14) & 1) << 29) | (((a >> 15) & 1) << 30) | (((b >> 15) & 1) << 31) AS BIGINT) AS zkey
FROM e
"""


# ======================================================================
# domain-mixture rebalancing
# ======================================================================

REBAL_SALT = "mix1"
# target: src0 30%, src1 20%, src2..src5 12.5% each (others dropped)
REBAL_BP = {"src0": 3000, "src1": 2000, "src2": 1250, "src3": 1250,
            "src4": 1250, "src5": 1250}


def q_pipe_rebalance_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Down-sample sources to a target mixture (integer basis-point
    arithmetic + md5-bucket routing — content-addressed, zero corpus
    shuffles; operators/sampling.rebalance_sources), summarized per
    source."""
    from .operators.sampling import rebalance_sources

    docs = load_table(spark, sf_dir, "documents")
    kept = rebalance_sources(docs, REBAL_BP, salt=REBAL_SALT)
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _sql_rebalance_mix() -> str:
    from .operators.sampling import duckdb_hash_bucket

    weights = ", ".join(
        f"('{s}', {w})" for s, w in sorted(REBAL_BP.items())
    )
    b = duckdb_hash_bucket("doc_id", REBAL_SALT)
    return f"""
WITH w(src, bp) AS (VALUES {weights}),
cnt AS (
  SELECT source, count(*) AS n FROM documents
  JOIN w ON source = src GROUP BY source
),
t AS (
  SELECT min(n * 10000 // bp) AS T
  FROM cnt JOIN w ON source = src WHERE bp > 0
),
rate AS (
  SELECT source,
         least(10000, (bp * t.T // 10000) * 10000 // n) AS bp_keep
  FROM cnt JOIN w ON source = src, t
)
SELECT d.source, count(*) AS n_kept,
       min(d.doc_id) AS min_id, max(d.doc_id) AS max_id
FROM documents d
JOIN rate r ON d.source = r.source
WHERE {b} < r.bp_keep
GROUP BY d.source
"""


# ======================================================================
# TPC-H Q6 / Q17 / Q19 analogs
# ======================================================================


def q_rel_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-revenue-change: the scan-dominant query — every
    predicate (date range, discount band, quantity cap) reaches the
    parquet scan as PushedFilters; the whole query is one partial
    aggregate with NO shuffle of any width."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * F.col("l_discount") * 100
                ).cast("long")
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_SQL_TPCH_Q6 = """
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


def q_rel_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue: lines below 20% of their part's
    average quantity. The correlated per-part aggregate decorrelates to
    one groupBy(partkey) + broadcast join back; the 0.2·avg comparison
    is integer cross-multiplied (5·qty·n < Σqty) — no float average."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        F.sum(_cents(F.col("l_quantity"))).alias("_sq"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        li.join(F.broadcast(per_part), li.l_partkey == F.col("p_key"))
        .filter(
            _cents(F.col("l_quantity")) * 5 * F.col("_n") < F.col("_sq")
        )
        .agg(
            F.sum(_cents(F.col("l_extendedprice"))).alias(
                "price_cents"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_SQL_TPCH_Q17 = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
       count(*) AS n_lines
FROM lineitem l
WHERE CAST(round(l_quantity * 100) AS BIGINT) * 5
      * (SELECT count(*) FROM lineitem l2
         WHERE l2.l_partkey = l.l_partkey)
      < (SELECT sum(CAST(round(l_quantity * 100) AS BIGINT))
         FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


def q_rel_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue under an OR-of-ANDs predicate (three brand ×
    size × quantity bands): the disjunction stays a single scan-level
    filter — Catalyst pushes the common join key and evaluates the
    disjunct in codegen after the broadcast part join; no union of three
    scans."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & (F.col("p_size").between(1, 5))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & (F.col("p_size").between(1, 10))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return j.filter(band).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("long")
        ).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_SQL_TPCH_Q19 = """
SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
               AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


# ======================================================================
# TPC-H Q13 / Q21 analogs
# ======================================================================


def q_rel_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer distribution by order count INCLUDING zero-order
    customers: LEFT OUTER join (orders may be absent), per-customer
    count ignoring the null side, then a second tiny aggregate over the
    counts. Two shuffles (custkey join, count agg over |customers|
    rows); customers broadcast-sized sides never shuffle the fact."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders, cust.c_custkey == orders.o_custkey, "left_outer"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_SQL_TPCH_Q13 = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
"""


Q21_LATE_DAYS = 60


def q_rel_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the SOLE late shipper on a multi-supplier
    order: one EXISTS (another supplier contributed to the order) and
    one NOT EXISTS (no OTHER supplier shipped late). Both quantifiers
    become semi/anti hash joins on orderkey with the supplier-inequality
    riding the join — never a per-row subquery."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q21_LATE_DAYS} DAYS")
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate")
    )
    other = li.select(
        F.col("l_orderkey").alias("o_key"),
        F.col("l_suppkey").alias("o_supp"),
    )
    other_late = late.select(
        F.col("l_orderkey").alias("ol_key"),
        F.col("l_suppkey").alias("ol_supp"),
    )
    cand = late.join(
        other,
        (F.col("l_orderkey") == F.col("o_key"))
        & (F.col("l_suppkey") != F.col("o_supp")),
        "left_semi",
    )
    sole = cand.join(
        other_late,
        (F.col("l_orderkey") == F.col("ol_key"))
        & (F.col("l_suppkey") != F.col("ol_supp")),
        "left_anti",
    )
    return sole.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("numwait")
    )


_SQL_TPCH_Q21 = f"""
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL {Q21_LATE_DAYS} DAY
)
SELECT l1.l_suppkey, count(*) AS numwait
FROM late l1
WHERE EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM late l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
  )
GROUP BY l1.l_suppkey
"""


# ======================================================================
# TPC-H Q11 / Q15 analogs
# ======================================================================


def q_rel_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important parts: parts whose revenue exceeds 1.1× the mean
    part revenue. One part-keyed aggregate; the global (total, count)
    is a 1-row broadcast; the threshold compare is integer
    cross-multiplication (10·part·n > 11·total) — no float mean."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(rev).alias("part_cents")
    )
    total = per_part.agg(
        F.sum("part_cents").alias("_tot"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(
            F.col("part_cents") * 10 * F.col("_n")
            > F.col("_tot") * 11
        )
        .select("l_partkey", "part_cents")
    )


_SQL_TPCH_Q11 = """
WITH pp AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) AS part_cents
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, part_cents
FROM pp
WHERE part_cents * 10 * (SELECT count(*) FROM pp)
      > 11 * (SELECT sum(part_cents) FROM pp)
"""


def q_rel_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier(s) by quarterly revenue — the view + argmax shape:
    per-supplier aggregate, 1-row max broadcast back, ties kept (the
    TPC-H semantic). Exact integer revenue makes the argmax
    deterministic on any engine."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("timestamp"))
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(rev).alias("total_cents")
    )
    mx = per_supp.agg(F.max("total_cents").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .filter(F.col("total_cents") == F.col("_mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_cents")
    )


_SQL_TPCH_Q15 = """
WITH r AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                  AS BIGINT)) AS BIGINT) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate < TIMESTAMP '1998-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_cents
FROM r JOIN supplier ON l_suppkey = s_suppkey
WHERE total_cents = (SELECT max(total_cents) FROM r)
"""



# ======================================================================
# winsorized robust aggregation
# ======================================================================

WINS_LO, WINS_HI = 0.05, 0.95


def q_pipe_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag winsorized price mass: line prices clamped to the
    group's exact [5th, 95th] percentile band
    (operators/sampling.winsorize). One bounds aggregate
    (group-cardinality sized, broadcast back) + one clamp in codegen —
    the fact table never shuffles.

    Overflow discipline (found at the sf1 sweep): Σ(cents·1e6) is
    ~2·10¹⁹ on 10× data — past int64, so a micro-unit total CANNOT be a
    BIGINT output at scale. The mass is emitted as TWO exact integer
    sums instead: the floor-cents sum (≤ 2·10¹³) and the fractional
    micro-remainder sum (non-zero only on clamped boundary rows,
    ≤ 2·10¹²). floor() and the subtraction are exact IEEE on the same
    doubles in both engines."""
    from .operators.sampling import winsorize

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents"),
    )
    w = winsorize(
        li, "cents", group_by="l_returnflag",
        lower=WINS_LO, upper=WINS_HI,
    )
    fw = F.floor(F.col("cents_wins"))
    return w.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(fw.cast("long")).alias("wins_cents_floor"),
        F.sum(
            F.round((F.col("cents_wins") - fw) * 1_000_000).cast("long")
        ).alias("wins_frac_micro"),
    )


_SQL_WINSORIZE = f"""
WITH c AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
),
b AS (
  SELECT l_returnflag,
         round(quantile_cont(cents, {WINS_LO}), 6) AS lo,
         round(quantile_cont(cents, {WINS_HI}), 6) AS hi
  FROM c GROUP BY 1
),
w AS (
  SELECT c.l_returnflag,
         round(least(greatest(CAST(cents AS DOUBLE), lo), hi), 6) AS x
  FROM c JOIN b USING (l_returnflag)
)
SELECT l_returnflag, count(*) AS n,
       CAST(sum(CAST(floor(x) AS BIGINT)) AS BIGINT) AS wins_cents_floor,
       CAST(sum(CAST(round((x - floor(x)) * 1000000) AS BIGINT)) AS BIGINT)
         AS wins_frac_micro
FROM w
GROUP BY l_returnflag
"""


# ======================================================================
# registry
# ======================================================================

QUERIES6: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pipe_winsorize": q_pipe_winsorize,
    "rel_tpch_q4": q_rel_tpch_q4,
    "rel_tpch_q12": q_rel_tpch_q12,
    "rel_tpch_q14": q_rel_tpch_q14,
    "rel_tpch_q18": q_rel_tpch_q18,
    "rel_tpch_q22": q_rel_tpch_q22,
    "text_contamination": q_text_contamination,
    "emb_gram": q_emb_gram,
    "emb_pca_project": q_emb_pca_project,
    "feat_row_key_dist": q_feat_row_key_dist,
    "stream_session_window": q_stream_session_window,
    "rel_orders_above_cust_avg": q_rel_orders_above_cust_avg,
    "rel_unpivot_customer": q_rel_unpivot_customer,
    "rel_price_histogram": q_rel_price_histogram,
    "stream_online_linreg": q_stream_online_linreg,
    "rel_sql_gateway": q_rel_sql_gateway,
    "rel_asof_join_fwd": q_rel_asof_join_fwd,
    "rel_full_outer_recon": q_rel_full_outer_recon,
    "pipe_pack_sequences": q_pipe_pack_sequences,
    "dedup_keep_best": q_dedup_keep_best,
    "rel_scd2_intervals": q_rel_scd2_intervals,
    "cv_weighted_ols_oof": q_cv_weighted_ols_oof,
    "text_lm_score": q_text_lm_score,
    "rel_morton_layout": q_rel_morton_layout,
    "pipe_rebalance_mix": q_pipe_rebalance_mix,
    "rel_tpch_q6": q_rel_tpch_q6,
    "rel_tpch_q17": q_rel_tpch_q17,
    "rel_tpch_q19": q_rel_tpch_q19,
    "rel_tpch_q13": q_rel_tpch_q13,
    "rel_tpch_q21": q_rel_tpch_q21,
    "rel_tpch_q11": q_rel_tpch_q11,
    "rel_tpch_q15": q_rel_tpch_q15,
}


def oracles6() -> Dict[str, str]:
    out = {}
    try:
        # data-dependent build (inlines fitted axis literals); degrade to
        # the rows-only check if the sf dir isn't readable here
        out["emb_pca_project"] = _sql_pca_project()
    except Exception:
        pass
    out.update(_oracles6_static())
    return out


def _oracles6_static() -> Dict[str, str]:
    return {
        "rel_tpch_q4": _SQL_TPCH_Q4,
        "rel_tpch_q12": _SQL_TPCH_Q12,
        "rel_tpch_q14": _SQL_TPCH_Q14,
        "rel_tpch_q18": _SQL_TPCH_Q18,
        "rel_tpch_q22": _SQL_TPCH_Q22,
        "text_contamination": _SQL_CONTAMINATION,
        "emb_gram": _SQL_EMB_GRAM,
        "feat_row_key_dist": _SQL_ROW_KEY_DIST,
        "stream_session_window": _sql_stream_session_window(),
        "rel_orders_above_cust_avg": _SQL_ORDERS_ABOVE_CUST_AVG,
        "rel_unpivot_customer": _SQL_UNPIVOT_CUSTOMER,
        "rel_price_histogram": _SQL_PRICE_HISTOGRAM,
        "stream_online_linreg": _SQL_STREAM_ONLINE_LINREG,
        "rel_sql_gateway": _SQL_GATEWAY,
        "rel_asof_join_fwd": _sql_asof_fwd(),
        "rel_full_outer_recon": _SQL_FULL_OUTER_RECON,
        "pipe_pack_sequences": _SQL_PACK_SEQUENCES,
        "dedup_keep_best": _sql_dedup_keep_best(),
        "rel_scd2_intervals": _SQL_SCD2_INTERVALS,
        "cv_weighted_ols_oof": _sql_cv_weighted_ols(),
        "text_lm_score": _SQL_TEXT_LM_SCORE,
        "rel_morton_layout": _SQL_MORTON_LAYOUT,
        "pipe_rebalance_mix": _sql_rebalance_mix(),
        "pipe_winsorize": _SQL_WINSORIZE,
        "rel_tpch_q6": _SQL_TPCH_Q6,
        "rel_tpch_q17": _SQL_TPCH_Q17,
        "rel_tpch_q19": _SQL_TPCH_Q19,
        "rel_tpch_q13": _SQL_TPCH_Q13,
        "rel_tpch_q21": _SQL_TPCH_Q21,
        "rel_tpch_q11": _SQL_TPCH_Q11,
        "rel_tpch_q15": _SQL_TPCH_Q15,
    }
