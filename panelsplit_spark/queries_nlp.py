"""Query registry, part 4: corpus/NLP analytics and relational-breadth
additions (pivot, exact percentiles, window gallery, grouping sets).

Same cross-engine determinism rules as queries.py: string periods,
``round(x, 6)`` on every floating output in BOTH engines, identical
aliases, integer-cents exact sums, and *exactly comparable* ranking keys
(single IEEE divisions, never multi-term float sums) wherever a LIMIT or
row_number makes row membership order-dependent.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .functions.hashing import word_tokens
from .sources.tables import load_table

_DUCK_TOKS = "string_split(lower(text), ' ')"

TOPTERMS_N = 100
TFIDF_TOP = 3

# ======================================================================
# corpus vocabulary
# ======================================================================


def q_text_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary: top-N terms by frequency over the whole corpus.

    Shape at scale: explode is a narrow transformation; the count is one
    partial-aggregated shuffle on the term key; top-N is a
    TakeOrderedAndProject (no global sort materialization). Ties broken
    by term so the LIMIT membership is deterministic cross-engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(word_tokens(F.col("text"))).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term"))
        .limit(TOPTERMS_N)
    )


_SQL_TOPTERMS = f"""
SELECT term, count(*) AS n
FROM (SELECT unnest({_DUCK_TOKS}) AS term FROM documents)
WHERE length(term) > 0
GROUP BY term
ORDER BY n DESC, term
LIMIT {TOPTERMS_N}
"""


# ======================================================================
# tf-idf top terms per document
# ======================================================================


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``TFIDF_TOP`` terms per document.

    The *ranking key* is ``tf / df`` — a single IEEE division, bit-equal
    on any engine — with a term tiebreak, so row membership under the
    per-doc top-k is deterministic. The reported ``tfidf`` value is the
    classic ``tf * ln(N / df)`` (rounded to 6 dp). Document frequency is
    one grouped count; N is a scalar broadcast; no all-pairs anything.
    """
    docs = load_table(spark, sf_dir, "documents")
    terms = (
        docs.select(
            "doc_id", F.explode(word_tokens(F.col("text"))).alias("term")
        )
        .where(F.length("term") > 0)
    )
    tf = terms.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_ = terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = docs.select(F.countDistinct("doc_id").alias("nd"))
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tf") / F.col("df")).desc(), F.col("term")
    )
    return (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TFIDF_TOP)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("nd") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )


_SQL_TFIDF = f"""
WITH terms AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents
),
t AS (SELECT doc_id, term FROM terms WHERE length(term) > 0),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term),
nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
ranked AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df, nd.nd,
         row_number() OVER (
           PARTITION BY tf.doc_id
           ORDER BY tf.tf * 1.0 / df.df DESC, tf.term
         ) AS rk
  FROM tf JOIN df USING (term), nd
)
SELECT doc_id, term, tf, df, round(tf * ln(nd * 1.0 / df), 6) AS tfidf
FROM ranked WHERE rk <= {TFIDF_TOP}
"""


# ======================================================================
# pivot
# ======================================================================

_PRIORITIES = [
    ("1-URGENT", "p1"),
    ("2-HIGH", "p2"),
    ("3-MEDIUM", "p3"),
    ("4-NOT SPECIFIED", "p4"),
    ("5-LOW", "p5"),
]


def q_rel_pivot_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders pivoted: one row per order status, one (count, cents)
    column pair per priority. Pivot values are supplied explicitly so the
    plan is a single grouped aggregate — no extra distinct-values job.
    Sums are exact integer cents (order-independent)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    piv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", [p for p, _ in _PRIORITIES])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("cents"),
        )
    )
    cols = [F.col("o_orderstatus")]
    for p, short in _PRIORITIES:
        cols.append(
            F.coalesce(F.col(f"`{p}_n`"), F.lit(0)).alias(f"{short}_n")
        )
        cols.append(
            F.coalesce(F.col(f"`{p}_cents`"), F.lit(0)).alias(
                f"{short}_cents"
            )
        )
    return piv.select(*cols)


def _sql_pivot() -> str:
    parts = []
    for p, short in _PRIORITIES:
        parts.append(
            f"count(*) FILTER (WHERE o_orderpriority = '{p}')"
            f" AS {short}_n"
        )
        parts.append(
            f"CAST(coalesce(sum(CAST(round(o_totalprice * 100) AS BIGINT))"
            f" FILTER (WHERE o_orderpriority = '{p}'), 0) AS BIGINT)"
            f" AS {short}_cents"
        )
    return (
        "SELECT o_orderstatus, "
        + ", ".join(parts)
        + " FROM orders GROUP BY o_orderstatus"
    )


# ======================================================================
# exact percentiles
# ======================================================================

_PCTS = [0.25, 0.5, 0.75, 0.9]


def q_rel_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of extended price per return flag —
    Spark's ``percentile`` (exact, linear interpolation), matching
    DuckDB's ``quantile_cont``. One grouped aggregate; the per-group sort
    happens inside the aggregate buffer, not as a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    arr = ", ".join(f"{p}D" for p in _PCTS)
    g = li.groupBy("l_returnflag").agg(
        F.expr(f"percentile(l_extendedprice, array({arr}))").alias("ps"),
        F.count(F.lit(1)).alias("n"),
    )
    cols = [F.col("l_returnflag"), F.col("n")]
    for i, p in enumerate(_PCTS):
        name = f"p{int(p * 100)}"
        cols.append(F.round(F.col("ps")[i], 6).alias(name))
    return g.select(*cols)


def _sql_percentiles() -> str:
    parts = [
        f"round(quantile_cont(l_extendedprice, {p}), 6)"
        f" AS p{int(p * 100)}"
        for p in _PCTS
    ]
    return (
        "SELECT l_returnflag, count(*) AS n, "
        + ", ".join(parts)
        + " FROM lineitem GROUP BY l_returnflag"
    )


# ======================================================================
# window-function gallery
# ======================================================================


def q_rel_window_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / percent_rank / cume_dist / lead / max-over per
    market segment, ordered by account balance. Two window specs share
    ONE partitioning (single shuffle on c_mktsegment): the ranking family
    orders by balance alone (ties rank equally — engine-independent);
    row_number and lead add the custkey tiebreak so their row identity is
    deterministic."""
    cust = load_table(spark, sf_dir, "customer")
    by_bal = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc()
    )
    by_bal_key = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    seg = Window.partitionBy("c_mktsegment")
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.round("c_acctbal", 6).alias("bal"),
        F.row_number().over(by_bal_key).alias("rn"),
        F.rank().over(by_bal).alias("rnk"),
        F.dense_rank().over(by_bal).alias("drk"),
        F.round(F.percent_rank().over(by_bal), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(by_bal), 6).alias("cume"),
        F.round(
            F.coalesce(F.lead("c_acctbal", 1).over(by_bal_key), F.lit(-1.0)),
            6,
        ).alias("next_bal"),
        F.round(F.max("c_acctbal").over(seg), 6).alias("seg_max"),
    )


_SQL_WINDOW_GALLERY = """
SELECT c_custkey, c_mktsegment, round(c_acctbal, 6) AS bal,
       row_number() OVER w2 AS rn,
       rank() OVER w1 AS rnk,
       dense_rank() OVER w1 AS drk,
       round(percent_rank() OVER w1, 6) AS pct_rank,
       round(cume_dist() OVER w1, 6) AS cume,
       round(coalesce(lead(c_acctbal, 1) OVER w2, -1.0), 6) AS next_bal,
       round(max(c_acctbal) OVER (PARTITION BY c_mktsegment), 6)
         AS seg_max
FROM customer
WINDOW w1 AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC),
       w2 AS (PARTITION BY c_mktsegment
              ORDER BY c_acctbal DESC, c_custkey)
"""


# ======================================================================
# grouping sets
# ======================================================================


def q_rel_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond the existing rollup/cube queries)
    with a grouping_id disambiguator — one Expand + one aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                 AS gid,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders_gs
        GROUP BY GROUPING SETS (
          (o_orderstatus, o_orderpriority),
          (o_orderstatus),
          (o_orderpriority),
          ()
        )
        """
    )


_SQL_GROUPING_SETS = """
SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS priority,
       grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS gid,
       count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY GROUPING SETS (
  (o_orderstatus, o_orderpriority),
  (o_orderstatus),
  (o_orderpriority),
  ()
)
"""


# ======================================================================
# dedup clustering (pairs -> connected components)
# ======================================================================


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs contracted into duplicate CLUSTERS:
    every clustered doc labeled with the min doc_id of its component
    (distributed min-label propagation over the pair graph). The oracle
    recomputes the same components with a recursive CTE — an independent
    transitive-closure implementation."""
    from .operators import dedup
    from .queries_data import MH_BAND, MH_HASHES, MH_SHINGLE

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, n_hashes=MH_HASHES, shingle_n=MH_SHINGLE
    )
    pairs = dedup.lsh_candidate_pairs(
        sigs, n_hashes=MH_HASHES, band_size=MH_BAND
    )
    return dedup.connected_components(pairs)


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clusters via the O(log d) large-star/small-star contraction
    (operators/dedup.connected_components_star) — gated against the
    IDENTICAL recursive-CTE oracle as `dedup_clusters`, so the two CC
    algorithms are proven interchangeable on real LSH pair graphs."""
    from .operators import dedup
    from .queries_data import MH_BAND, MH_HASHES, MH_SHINGLE

    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, n_hashes=MH_HASHES, shingle_n=MH_SHINGLE
    )
    pairs = dedup.lsh_candidate_pairs(
        sigs, n_hashes=MH_HASHES, band_size=MH_BAND
    )
    return dedup.connected_components_star(pairs)


def _sql_dedup_clusters() -> str:
    from .queries_data import _sql_minhash_lsh

    return f"""
WITH RECURSIVE pairs AS (
  {_sql_minhash_lsh().strip()}
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
),
reach AS (
  SELECT u, v FROM edges
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
)
SELECT u AS id, least(u, min(v)) AS cluster FROM reach GROUP BY u
"""


# ======================================================================
# deterministic hash split / sampling
# ======================================================================

SPLIT_SALT = "exp1"
SPLIT_WEIGHTS = {"train": 0.8, "valid": 0.1, "test": 0.1}


def q_pipe_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/valid/test routing of the corpus (md5-bucket
    thresholds — content-addressed, engine-independent), summarized per
    (split, lang). Narrow projection + one small aggregate."""
    from .operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    out = sampling.hash_split(
        docs, "doc_id", SPLIT_WEIGHTS, salt=SPLIT_SALT
    )
    return out.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _split_case_sql(bucket_expr: str) -> str:
    """CASE expression mirroring hash_split's threshold arithmetic —
    derived from SPLIT_WEIGHTS so the two engines cannot drift."""
    total = sum(SPLIT_WEIGHTS.values())
    items = list(SPLIT_WEIGHTS.items())
    acc, branches = 0.0, []
    for name, w in items[:-1]:
        acc += w
        cut = int(round(acc / total * 10_000))
        branches.append(f"WHEN {bucket_expr} < {cut} THEN '{name}'")
    return (
        "CASE " + " ".join(branches) + f" ELSE '{items[-1][0]}' END"
    )


def _sql_hash_split() -> str:
    from .operators.sampling import duckdb_hash_bucket

    b = duckdb_hash_bucket("doc_id", SPLIT_SALT)
    return f"""
WITH routed AS (
  SELECT doc_id, lang,
         {_split_case_sql(b)} AS split
  FROM documents
)
SELECT split, lang, count(*) AS n,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM routed GROUP BY split, lang
"""


# ======================================================================
# embedding label centroids
# ======================================================================


def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in long form — exact integer-scaled
    component sums (order-independent), one posexplode + one grouped
    aggregate."""
    from .operators.similarity import label_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb)


# NB: DuckDB evaluates FLOAT * DOUBLE-literal in float32 (the literal is
# demoted); the explicit CAST forces the same float->double promotion
# Spark applies, so per-element rounding is bit-identical.
_SQL_LABEL_CENTROIDS = """
SELECT label, i AS pos, count(*) AS n,
       CAST(sum(CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0)
                     AS BIGINT)) AS BIGINT)
         / 1000000.0 / count(*) AS centroid
FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
GROUP BY label, i
"""


# ======================================================================
# streaming exact dedup
# ======================================================================


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication end-to-end: readStream over the events
    parquet → stateful ``dropDuplicates`` on (user_id, event_type) →
    availableNow drain to a memory sink. On a closed input the emitted
    set must equal batch ``SELECT DISTINCT`` — which is the oracle."""
    from .sources.tables import configure
    from .streaming.rolling import (
        drain,
        file_stream,
        memory_sink,
        stream_distinct,
    )

    configure(spark)

    # distinct = set-union semilattice: ANY key re-chop drains equal
    stream = file_stream(spark, sf_dir, "events", key_col="event_id")
    out = stream_distinct(stream, ["user_id", "event_type"])
    name = "stream_dedup_sink"
    drained = drain(spark, name, lambda: memory_sink(out, name, "append"))
    return drained.select("user_id", "event_type")


_SQL_STREAM_DEDUP = """
SELECT DISTINCT user_id, event_type FROM events
"""


# ======================================================================
# bucketed-table co-located join
# ======================================================================


def q_src_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-layout join under the gate: orders and lineitem are
    written ONCE as catalog tables bucketed+sorted on the join key, then
    joined exchange-free (the 100 TB pattern: pay the shuffle at layout
    time, never per query). The oracle is the plain SQL join — layout
    must not change results. A plan test asserts the exchange-free
    shape; here the gate checks the values."""
    from .sources.tables import write_bucketed_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    write_bucketed_table(
        orders, "gate_orders_b", "o_orderkey", 8,
        sort_cols="o_orderkey",
    )
    write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "gate_lineitem_b", "o_orderkey", 8, sort_cols="o_orderkey",
    )
    bo = spark.table("gate_orders_b")
    bl = spark.table("gate_lineitem_b")
    j = bo.join(bl, "o_orderkey")
    return j.groupBy("o_orderstatus", "l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("long")
        ).alias("cents"),
        F.countDistinct("o_orderkey").alias("n_orders"),
    )


_SQL_BUCKETED_JOIN = """
SELECT o_orderstatus, l_returnflag, count(*) AS n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
       count(DISTINCT o_orderkey) AS n_orders
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus, l_returnflag
"""


# ======================================================================
# date-function gallery
# ======================================================================


def q_rel_date_gallery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date scalar-function breadth over orders: add/trunc/last_day/
    extract/diff — all codegen'd projections, zero shuffles (the final
    small aggregate exists only to keep output compact). Spark's
    dayofweek is 1=Sunday; the engine normalizes to 0=Sunday to match
    ANSI-ish engines."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    proj = orders.select(
        F.date_format(d, "yyyy-MM").alias("month"),
        (F.dayofweek(d) - 1).alias("dow"),
        F.dayofyear(d).alias("doy"),
        F.date_format(F.date_add(d, 7), "yyyy-MM-dd").alias("next_week"),
        F.date_format(F.trunc(d, "month"), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.datediff(d, F.to_date(F.lit("2024-01-01"))).alias(
            "days_since_epoch_2024"
        ),
    )
    return proj.groupBy("month", "dow").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doy").alias("min_doy"),
        F.max("doy").alias("max_doy"),
        F.min("next_week").alias("first_next_week"),
        F.min("month_start").alias("month_start"),
        F.max("month_end").alias("month_end"),
        F.sum("days_since_epoch_2024").alias("day_offset_sum"),
    )


_SQL_DATE_GALLERY = """
WITH proj AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         dayofweek(o_orderdate) AS dow,
         dayofyear(o_orderdate) AS doy,
         strftime(o_orderdate + INTERVAL 7 DAY, '%Y-%m-%d') AS next_week,
         strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
           AS month_start,
         strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end,
         date_diff('day', DATE '2024-01-01', o_orderdate)
           AS days_since_epoch_2024
  FROM orders
)
SELECT month, dow, count(*) AS n,
       min(doy) AS min_doy, max(doy) AS max_doy,
       min(next_week) AS first_next_week,
       min(month_start) AS month_start,
       max(month_end) AS month_end,
       CAST(sum(days_since_epoch_2024) AS BIGINT) AS day_offset_sum
FROM proj GROUP BY month, dow
"""


# ======================================================================
# RANGE-frame window (value-based frame, vs the ROWS frames elsewhere)
# ======================================================================


def q_rel_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based window frame: for each lineitem, how many lines of the
    same return flag have quantity within the trailing 5-unit band, and
    their exact cents sum. RANGE frames are set-based (all ties enter
    the frame), so the result is deterministic without a tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_quantity")
        .rangeBetween(-5, 0)
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round("l_quantity", 6).alias("qty"),
        F.count(F.lit(1)).over(w).alias("band_n"),
        F.sum(cents).over(w).alias("band_cents"),
    )


_SQL_RANGE_WINDOW = """
SELECT l_orderkey, l_linenumber, l_returnflag,
       round(l_quantity, 6) AS qty,
       count(*) OVER w AS band_n,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) OVER w
            AS BIGINT) AS band_cents
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity
             RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
"""


# ======================================================================
# k-means-trained IVF ANN (iterative algorithm -> rows-only check)
# ======================================================================


def q_sim_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k search over k-means-trained cells: distributed Lloyd
    (deterministic md5-sample init, exact integer-unit means) fits the
    coarse quantizer, then the standard IVF probe runs against it.

    Oracle-gated by full centroid replay: the fit is a fixed-seed,
    fixed-iteration fixpoint, so the SQL twin unrolls the three Lloyd
    rounds as chained CTEs — same md5-ordered init, same 6dp-quantized
    squared distances (argmin ties to the lowest cell), same exact
    integer-micro-unit means — and then runs the identical IVF probe
    against the replayed centroids. Every float the two engines compare
    is either an exact integer or a single rounded expression, so the
    hash gate is exact (see _sql_kmeans_ivf). The numpy differential
    test (tests/test_sampling.py::test_kmeans_matches_numpy_lloyd)
    additionally pins the Lloyd math against an independent
    implementation."""
    from .operators.similarity import centroid_frame, ivf_topk, kmeans_fit
    from .queries_data import IVF_CELLS, IVF_PROBE, TOPK_K, TOPK_NQ

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=IVF_CELLS, n_iter=3)
    queries = emb.where(F.col("vec_id") < TOPK_NQ)
    return ivf_topk(
        emb,
        queries,
        k=TOPK_K,
        n_cells=IVF_CELLS,
        n_probe=IVF_PROBE,
        centroids=centroid_frame(spark, cents),
    ).select(
        "query_id",
        "neighbor_id",
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def kmeans_lloyd_ctes(k: int, n_iter: int) -> str:
    """Shared DuckDB CTE chain replaying ``operators/similarity.
    kmeans_fit(k, n_iter)`` over the embeddings table: ``WITH v AS …,
    cent0 …, cent{n_iter}``. Callers append their own consumer CTEs
    (the IVF probe below; the SemDeDup pair screen in queries_curate).

    Exactness contract (mirrors operators/similarity.kmeans_fit):

    * init = the k rows with smallest ``(md5(id::varchar), id)`` —
      identical hex strings and collation on both engines;
    * assignment compares squared L2 rounded to 6dp (ties → lowest
      cell), exactly like ``kmeans_assign(round_to=6)``;
    * centroid update sums ``round(x·1e6)`` as exact integers and
      divides ``s / 1e6 / n`` — the identical IEEE double division
      sequence the driver loop performs, so the replayed centroids are
      bit-identical and every later float comparison is safe;
    * empty cells keep the previous centroid (LEFT JOIN + CASE).
    """
    parts = [
        """
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
cent0 AS (
  SELECT row_number() OVER (ORDER BY h, id) - 1 AS cell, x AS c FROM (
    SELECT id, x, md5(CAST(id AS VARCHAR)) AS h FROM v
    ORDER BY h, id LIMIT %d
  )
)""" % k
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            """,
a%(i)d AS (
  SELECT id, x, cell FROM (
    SELECT v.id, v.x, p.cell,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY round(list_sum(list_transform(
                        range(1, len(v.x) + 1),
                        j -> (v.x[j] - p.c[j]) * (v.x[j] - p.c[j]))), 6),
                      p.cell
           ) AS rn
    FROM v, cent%(p)d p
  ) WHERE rn = 1
),
s%(i)d AS (
  SELECT cell, j, count(*) AS n, CAST(sum(q) AS BIGINT) AS s
  FROM (
    SELECT cell,
           UNNEST(range(1, len(x) + 1)) AS j,
           UNNEST(list_transform(
             x, e -> CAST(round(e * 1000000.0) AS BIGINT))) AS q
    FROM a%(i)d
  )
  GROUP BY cell, j
),
cent%(i)d AS (
  SELECT px.cell,
         list(CASE WHEN st.n IS NULL THEN px.cj
                   ELSE st.s / 1000000.0 / st.n END ORDER BY px.j) AS c
  FROM (
    SELECT cell,
           UNNEST(range(1, len(c) + 1)) AS j,
           UNNEST(c) AS cj
    FROM cent%(p)d
  ) px
  LEFT JOIN s%(i)d st ON st.cell = px.cell AND st.j = px.j
  GROUP BY px.cell
)""" % {"i": i, "p": i - 1}
        )
    return "".join(parts)


def _sql_kmeans_ivf(n_iter: int = 3) -> str:
    """DuckDB replay of q_sim_kmeans_ivf_topk: the shared Lloyd chain
    (:func:`kmeans_lloyd_ctes`) + the IVF probe."""
    from .queries_data import IVF_CELLS, IVF_PROBE, TOPK_K, TOPK_NQ

    parts = [kmeans_lloyd_ctes(IVF_CELLS, n_iter)]
    parts.append(
        """,
ca AS (
  SELECT neighbor_id, cv, cell_id FROM (
    SELECT v.id AS neighbor_id, v.x AS cv, p.cell AS cell_id,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY round(list_cosine_similarity(v.x, p.c), 6) DESC,
                      p.cell
           ) AS rn
    FROM v, cent%(last)d p
  ) WHERE rn = 1
),
qa AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT v.id AS query_id, v.x AS qv, p.cell AS cell_id,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY round(list_cosine_similarity(v.x, p.c), 6) DESC,
                      p.cell
           ) AS rn
    FROM v, cent%(last)d p WHERE v.id < %(nq)d
  ) WHERE rn <= %(probe)d
),
s AS (
  SELECT DISTINCT qa.query_id, ca.neighbor_id,
         round(list_cosine_similarity(qa.qv, ca.cv), 6) AS cosine
  FROM qa JOIN ca ON qa.cell_id = ca.cell_id
  WHERE qa.query_id <> ca.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
  ) AS rank FROM s
) WHERE rank <= %(k)d
""" % {"last": n_iter, "nq": TOPK_NQ, "probe": IVF_PROBE, "k": TOPK_K}
    )
    return "".join(parts)


# ======================================================================
# end-to-end corpus cleaning pipeline
# ======================================================================

CLEAN_MIN_QUALITY = 0.5
CLEAN_MIN_TOKENS = 5


def q_pipe_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB preprocessing pipeline in miniature, as ONE gate entry:
    quality scoring (codegen expressions) → quality/length filter →
    exact dedup (min-id canonical via hash group + semi join) →
    deterministic hash split routing → per-split summary.

    Every stage composes narrow transformations or single-shuffle
    aggregates; the only payload movement is the dedup semi join's key
    exchange. The oracle replays the identical pipeline in SQL."""
    from .operators import dedup, sampling, text

    docs = load_table(spark, sf_dir, "documents")
    scored = text.quality_score(docs)
    kept = scored.where(
        (F.col("quality") >= CLEAN_MIN_QUALITY)
        & (F.col("n_ws_tokens") >= CLEAN_MIN_TOKENS)
    )
    deduped = dedup.dedup_exact(kept)
    routed = sampling.hash_split(
        deduped, "doc_id", SPLIT_WEIGHTS, salt=SPLIT_SALT
    )
    return routed.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_ws_tokens").alias("n_tokens"),
        F.sum(
            F.round(F.col("quality") * 1000000).cast("long")
        ).alias("quality_sum_micro"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def _sql_pipe_corpus_clean() -> str:
    from .operators.sampling import duckdb_hash_bucket
    from .operators.text import STOPWORDS  # noqa: F401 (parity w/ spark)

    b = duckdb_hash_bucket("doc_id", SPLIT_SALT)
    return f"""
WITH base AS (
  SELECT doc_id, text, lower(text) AS lo, {_DUCK_TOKS} AS t,
         length(text) AS n_chars
  FROM documents
),
c AS (
  SELECT doc_id, text,
         CAST(len(t) AS INT) AS n_ws_tokens,
         (n_chars - length(regexp_replace(lo, '[^a-z ]', '', 'g'))
                  - length(regexp_replace(lo, '[^0-9]', '', 'g')))
           * 1.0 / greatest(n_chars, 1) AS punct_ratio,
         length(regexp_replace(lo, '[^0-9]', '', 'g'))
           * 1.0 / greatest(n_chars, 1) AS digit_ratio
  FROM base
),
q AS (
  SELECT doc_id, text, n_ws_tokens,
         least(1.0, ln(1.0 + n_ws_tokens) / 5.0)
           * (1.0 - punct_ratio) * (1.0 - digit_ratio) AS quality
  FROM c
),
kept AS (
  SELECT * FROM q
  WHERE quality >= {CLEAN_MIN_QUALITY}
    AND n_ws_tokens >= {CLEAN_MIN_TOKENS}
),
canon AS (
  SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
),
deduped AS (
  SELECT k.* FROM kept k JOIN canon USING (doc_id)
),
routed AS (
  SELECT *,
         {_split_case_sql(b)} AS split
  FROM deduped
)
SELECT split, count(*) AS n_docs,
       CAST(sum(n_ws_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(CAST(round(quality * 1000000) AS BIGINT)) AS BIGINT)
         AS quality_sum_micro,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM routed GROUP BY split
"""


# ======================================================================
# skew-salted join correctness gate
# ======================================================================


def q_rel_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted heavy-hitter join under the correctness gate: events
    (skewed fact side — user activity follows a power-ish law) salted
    and joined to a per-user dimension, then aggregated. Salting must
    never change the RESULT — the oracle is the plain SQL join."""
    from .operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    user_dim = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_n"))
        .withColumn(
            "tier",
            F.when(F.col("user_n") >= 100, F.lit("heavy"))
            .when(F.col("user_n") >= 20, F.lit("mid"))
            .otherwise(F.lit("light")),
        )
    )
    joined = salted_join(
        ev.select("event_id", "user_id", "event_type"),
        user_dim,
        on="user_id",
        n_salts=8,
    )
    return joined.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("event_id").alias("min_event"),
    )


_SQL_SALTED_JOIN = """
WITH user_dim AS (
  SELECT user_id, count(*) AS user_n,
         CASE WHEN count(*) >= 100 THEN 'heavy'
              WHEN count(*) >= 20 THEN 'mid'
              ELSE 'light' END AS tier
  FROM events GROUP BY user_id
)
SELECT d.tier, e.event_type, count(*) AS n,
       count(DISTINCT e.user_id) AS n_users,
       min(e.event_id) AS min_event
FROM events e JOIN user_dim d USING (user_id)
GROUP BY d.tier, e.event_type
"""


# ======================================================================
# streaming online inference (batch-trained models scoring a stream)
# ======================================================================


def q_stream_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online inference end-to-end: per-fold OLS models trained in BATCH
    (closed-form fast path), then a STREAM of events is fold-assigned
    (stream-static broadcast join) and scored statelessly
    (Arrow-batched mapInPandas). On a closed input the scored stream
    must equal the batch OOF predictions — the oracle is the same SQL
    regr_slope/intercept closed form that gates cv_ols_oof."""
    from .estimators import LinearRegression
    from .operators.application import cross_val_fit
    from .queries import _events_cv
    from .sources.tables import configure, normalize_event_ts
    from .streaming.rolling import (
        drain,
        file_stream,
        memory_sink,
        stream_score,
    )

    ev, ps = _events_cv(spark, sf_dir)
    models = cross_val_fit(LinearRegression(), ev, ["hod"], "value", ps)

    configure(spark)
    # stateless per-row scoring: ANY key re-chop drains equal
    stream = file_stream(spark, sf_dir, "events", key_col="event_id")
    stream = normalize_event_ts(stream)
    stream = stream.withColumn(
        "period", F.date_format("ts", "yyyy-MM-dd")
    ).withColumn("hod", F.hour("ts").cast("double"))

    scored = stream_score(stream, models, ["hod"], ps).select(
        "event_id", "fold_id", "prediction"
    )
    name = "stream_score_sink"
    out = drain(spark, name, lambda: memory_sink(scored, name, "append"))
    return out.select(
        "event_id",
        F.col("fold_id").cast("long").alias("fold_id"),
        F.round("prediction", 6).alias("pred"),
    )


def _sql_stream_score() -> str:
    from .queries import ORACLES

    return ORACLES["cv_ols_oof"]


# ======================================================================
# sink -> source round-trips (CSV / JSON)
# ======================================================================


def _rt_dir(spark: SparkSession, leaf: str) -> str:
    import os

    base = os.path.join(os.getcwd(), "spark-warehouse", "roundtrip")
    return os.path.join(base, leaf)


def q_src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink/source gate: project documents → partitioned CSV (header)
    → read back with explicit schema → aggregate. The aggregate must
    equal computing directly on the parquet (the oracle) — proving the
    CSV writer/reader round-trips values losslessly."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    path = _rt_dir(spark, "csv_docs")
    docs.write.mode("overwrite").option("header", True).csv(path)
    back = (
        spark.read.option("header", True)
        .schema("doc_id long, lang string, n_chars long")
        .csv(path)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").alias("chars"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


_SQL_CSV_ROUNDTRIP = """
SELECT lang, count(*) AS n, CAST(sum(n_chars) AS BIGINT) AS chars,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM documents GROUP BY lang
"""


def q_src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink/source gate for JSON lines, including a nested struct column
    — written, read back with explicit schema, unnested, aggregated."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.struct(
            F.col("o_orderpriority").alias("prio"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        ).alias("meta"),
    )
    path = _rt_dir(spark, "json_orders")
    orders.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "o_orderkey long, o_orderstatus string,"
        " meta struct<prio: string, cents: long>"
    ).json(path)
    return back.groupBy("o_orderstatus", F.col("meta.prio").alias("prio")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("meta.cents").alias("cents"),
        F.min("o_orderkey").alias("min_key"),
    )


_SQL_JSON_ROUNDTRIP = """
SELECT o_orderstatus, o_orderpriority AS prio, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
       min(o_orderkey) AS min_key
FROM orders GROUP BY o_orderstatus, o_orderpriority
"""


# ======================================================================
# document chunking: overlapping token windows
# ======================================================================

CHUNK_SIZE, CHUNK_OVERLAP = 64, 8
_CHUNK_STRIDE = CHUNK_SIZE - CHUNK_OVERLAP


def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token windows per document (operators/text.
    chunk_documents) summarized per doc so the gate result stays
    doc-sized: chunk count, total window tokens, and an order-insensitive
    xor-ish checksum (sum of chunk-text md5-longs) pinning every window's
    exact text against the SQL twin."""
    from .functions.hashing import md5_long
    from .operators.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, chunk_size=CHUNK_SIZE, overlap=CHUNK_OVERLAP
    )
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("total_tokens"),
            # mod keeps the LONG sum far from 2^63 (DuckDB widens BIGINT
            # sums to HUGEINT; Spark would wrap) — still pins every
            # window's exact text
            F.sum(
                md5_long(F.col("chunk_text")) % F.lit(10**12)
            ).alias("chunk_checksum"),
        )
    )


_SQL_TEXT_CHUNKS = f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
),
c AS (
  SELECT doc_id, toks,
         unnest(range(0,
           CAST(floor((len(toks) - 1) / {_CHUNK_STRIDE}) AS BIGINT) + 1
         )) AS chunk_id
  FROM t WHERE len(toks) > 0
),
w AS (
  SELECT doc_id,
         toks[chunk_id * {_CHUNK_STRIDE} + 1 :
              chunk_id * {_CHUNK_STRIDE} + {CHUNK_SIZE}] AS win
  FROM c
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CAST(len(win) AS BIGINT)) AS BIGINT) AS total_tokens,
       CAST(sum(CAST(concat('0x', substr(md5(array_to_string(win, ' ')),
                       1, 15)) AS BIGINT) % 1000000000000) AS BIGINT)
         AS chunk_checksum
FROM w
GROUP BY doc_id
"""


# ======================================================================
# within-document repetition signals (Gopher-style quality filters)
# ======================================================================


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token and duplicate-n-gram ratios per document
    (operators/text.repetition_signals) — pure codegen'd array HOFs, one
    narrow pass, rounded to 6 decimals for engine-exact doubles."""
    from .operators.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    return repetition_signals(docs).select(
        "doc_id",
        "distinct_token_ratio",
        "dup_2gram_ratio",
        "dup_3gram_ratio",
    )


def _sql_text_repetition() -> str:
    def grams(n: int) -> str:
        return (
            f"list_transform(range(1, len(toks) - {n - 2}), "
            f"i -> array_to_string(toks[i : i + {n - 1}], ' '))"
        )

    def dup(g: str) -> str:
        return (
            f"CASE WHEN len({g}) > 0 THEN round("
            f"CAST(len({g}) - len(list_distinct({g})) AS DOUBLE) "
            f"/ len({g}), 6) ELSE 0.0 END"
        )

    return f"""
WITH t AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
)
SELECT doc_id,
       round(CAST(len(list_distinct(toks)) AS DOUBLE)
             / greatest(len(toks), 1), 6) AS distinct_token_ratio,
       {dup(grams(2))} AS dup_2gram_ratio,
       {dup(grams(3))} AS dup_3gram_ratio
FROM t
"""


# ======================================================================
# registry
# ======================================================================

QUERIES4: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_topterms": q_text_topterms,
    "text_tfidf": q_text_tfidf,
    "rel_pivot_priority": q_rel_pivot_priority,
    "rel_percentiles": q_rel_percentiles,
    "rel_window_gallery": q_rel_window_gallery,
    "rel_grouping_sets": q_rel_grouping_sets,
    "dedup_clusters": q_dedup_clusters,
    "pipe_hash_split": q_pipe_hash_split,
    "emb_label_centroids": q_emb_label_centroids,
    "stream_dedup": q_stream_dedup,
    "stream_score": q_stream_score,
    "rel_salted_join": q_rel_salted_join,
    "pipe_corpus_clean": q_pipe_corpus_clean,
    "sim_kmeans_ivf_topk": q_sim_kmeans_ivf_topk,
    "rel_date_gallery": q_rel_date_gallery,
    "src_bucketed_join": q_src_bucketed_join,
    "rel_range_window": q_rel_range_window,
    "src_csv_roundtrip": q_src_csv_roundtrip,
    "src_json_roundtrip": q_src_json_roundtrip,
    "text_chunks": q_text_chunks,
    "text_repetition": q_text_repetition,
    "dedup_clusters_star": q_dedup_clusters_star,
}

def oracles4() -> Dict[str, str]:
    """Built lazily (called from queries.py AFTER its oracles exist):
    several entries re-use CTEs defined there, and building them at
    module-import time would make the registry imports circular."""
    return {
        "text_topterms": _SQL_TOPTERMS,
        "text_tfidf": _SQL_TFIDF,
        "rel_pivot_priority": _sql_pivot(),
        "rel_percentiles": _sql_percentiles(),
        "rel_window_gallery": _SQL_WINDOW_GALLERY,
        "rel_grouping_sets": _SQL_GROUPING_SETS,
        "dedup_clusters": _sql_dedup_clusters(),
        "pipe_hash_split": _sql_hash_split(),
        "emb_label_centroids": _SQL_LABEL_CENTROIDS,
        "stream_dedup": _SQL_STREAM_DEDUP,
        "stream_score": _sql_stream_score(),
        "rel_salted_join": _SQL_SALTED_JOIN,
        "pipe_corpus_clean": _sql_pipe_corpus_clean(),
        "sim_kmeans_ivf_topk": _sql_kmeans_ivf(),
        "rel_date_gallery": _SQL_DATE_GALLERY,
        "src_bucketed_join": _SQL_BUCKETED_JOIN,
        "rel_range_window": _SQL_RANGE_WINDOW,
        "src_csv_roundtrip": _SQL_CSV_ROUNDTRIP,
        "src_json_roundtrip": _SQL_JSON_ROUNDTRIP,
        "text_chunks": _SQL_TEXT_CHUNKS,
        "text_repetition": _sql_text_repetition(),
        "dedup_clusters_star": _sql_dedup_clusters(),
    }
