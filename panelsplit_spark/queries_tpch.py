"""Declared-query registry, part 5: classic decision-support join trees
(TPC-H Q3/Q5/Q10 analogs on the driver's TPC-H-ish tables), a
partitioned-sink partition-pruning gate, and a watermarked stream-stream
interval join.

Why these exist: the reference library (4Freye/panelsplit) is a panel-CV
engine, but the mandate's §2.8 relational checklist calls for the full
decision-support surface. The three TPC-H analogs exercise multi-table
join planning end-to-end — selective dimension broadcast, big-fact
shuffle join, group-agg over the join tree, deterministic top-k — the
exact plan shapes a 1000-executor run lives or dies on.

Scale notes (100 TB):

* Q3/Q5/Q10: the only shuffles are lineitem⋈orders on orderkey (both
  sides huge → SMJ, or exchange-free with the bucketed layout from
  ``sources/tables.write_bucketed_table``) and the final group-agg, which
  partial-aggregates map-side. Every dimension path (customer filtered by
  segment, supplier⋈nation⋈region) is explicitly broadcast.
* Partition-pruned source: the sink writes hive-partitioned parquet; the
  read-back filter on the partition column prunes directories at planning
  time (asserted by ``tests/test_sources.py::test_partition_pruning``) —
  at 100 TB this is the difference between scanning 1/5 of the data and
  all of it.
* Stream-stream join: both sides watermarked, state bounded by the
  interval width + watermark; the join is an equi-join on the entity key
  with an event-time range predicate, so state is keyed and scoped per
  user — no unbounded buffering.

All floating money flows through ``CAST(round(x*100) AS BIGINT)`` (cents)
so cross-engine hashes are exact — the module-level convention from
``queries.py``.
"""

from __future__ import annotations

import os
from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F

from .sources.tables import load_table


from .functions.exact import cents as _cents  # noqa: E402


def _rev_cents() -> F.Column:
    # built lazily: Column construction needs an active SparkContext, and
    # this module must stay importable without one (driver imports the
    # registry before the session exists)
    return F.sum(
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("long")
    ).alias("revenue_cents")

_SQL_REV_CENTS = (
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)"
    " AS BIGINT)) AS BIGINT) AS revenue_cents"
)


# ======================================================================
# TPC-H Q3 analog: shipping priority
# ======================================================================


def q_rel_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped orders by revenue for one market segment.

    Plan shape: customer is filtered to ~1/5 and broadcast; the
    lineitem⋈orders equi-join on orderkey is the one real shuffle (both
    filters pushed to the scans); group-agg partial-aggregates map-side;
    the top-10 is a deterministic total order (revenue desc, orderkey) —
    TakeOrderedAndProject, no global sort materialized."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev_cents())
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
            "revenue_cents",
        )
        .orderBy(F.desc("revenue_cents"), "l_orderkey")
        .limit(10)
    )


_SQL_TPCH_Q3 = f"""
SELECT l_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       o_orderpriority,
       {_SQL_REV_CENTS}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority
ORDER BY revenue_cents DESC, l_orderkey
LIMIT 10
"""


# ======================================================================
# TPC-H Q5 analog: local supplier volume
# ======================================================================


def q_rel_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation where the customer and the line's supplier share
    a nation, for one region and a 2-year order window.

    Plan shape: region→nation→supplier collapses to one broadcast dim
    (~tens of rows even at 100 TB); customer broadcasts after the region
    filter implied by ``c_nationkey = s_nationkey``; lineitem⋈orders is
    the single big shuffle. The nationkey-equality between customer and
    supplier rides the broadcast joins as an extra equi-condition — no
    additional exchange."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(_rev_cents(), F.count(F.lit(1)).alias("n_lines"))
    )


_SQL_TPCH_Q5 = f"""
SELECT n_name, {_SQL_REV_CENTS}, count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n_name
"""


# ======================================================================
# TPC-H Q10 analog: returned-item reporting
# ======================================================================


def q_rel_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returns in one half-year.

    Plan shape: returnflag + date filters pushed to both fact scans; one
    orderkey shuffle join; customer and nation broadcast; deterministic
    top-k via (revenue desc, custkey)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-07-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation),
            cust.c_nationkey == nation.n_nationkey,
        )
        .groupBy(
            "c_custkey",
            "c_name",
            _cents(F.col("c_acctbal")).alias("acctbal_cents"),
            "n_name",
        )
        .agg(_rev_cents())
        .orderBy(F.desc("revenue_cents"), "c_custkey")
        .limit(20)
    )


_SQL_TPCH_Q10 = f"""
SELECT c_custkey, c_name,
       CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents,
       n_name, {_SQL_REV_CENTS}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1999-01-01'
  AND o_orderdate < TIMESTAMP '1999-07-01'
GROUP BY c_custkey, c_name, acctbal_cents, n_name
ORDER BY revenue_cents DESC, c_custkey
LIMIT 20
"""


# ======================================================================
# partitioned sink -> partition-pruned source
# ======================================================================


def q_src_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink/source gate: events written hive-partitioned by event_type,
    read back with a partition-column filter. The filter must prune to
    one directory at planning time (PartitionFilters — asserted by the
    plan test in tests/test_sources.py); the aggregate must equal
    filtering the original parquet, which is the oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    path = os.path.join(
        os.getcwd(), "spark-warehouse", "roundtrip", "events_by_type"
    )
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    back = spark.read.parquet(path).filter(
        F.col("event_type") == "purchase"
    )
    return back.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_cents(F.col("value"))).alias("value_cents"),
        F.min("event_id").alias("min_event"),
    )


_SQL_PARTITIONED_PRUNE = """
SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       min(event_id) AS min_event
FROM events WHERE event_type = 'purchase'
GROUP BY strftime(ts, '%Y-%m-%d')
"""


# ======================================================================
# watermarked stream-stream interval join
# ======================================================================


def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each purchase event joined to the same
    user's view events from the trailing 2 hours. Both sides are
    watermarked so join state is bounded (interval width + watermark
    slack per user); on a closed availableNow input the emitted set
    equals the batch interval join, which is the oracle."""
    from .sources.tables import configure
    from .streaming.rolling import (
        drain,
        file_stream,
        memory_sink,
        stream_interval_join,
    )

    configure(spark)

    # ONE file source, branched into both join sides (the canonical
    # streaming self-join) so any re-chop is seen identically by both.
    # Watermark state retention requires event-time-monotone arrival
    # for batch-equality, so the invariance test re-chops along
    # contiguous (ts, event_id) ranges.
    base = file_stream(
        spark, sf_dir, "events", order_cols=["ts", "event_id"]
    )

    def _stream():
        # Watermarks require TIMESTAMP (tz-aware); the parquet holds
        # TIMESTAMP_NTZ. The cast shifts the epoch by the session zone,
        # but the join interval is shift-invariant and no timestamp is
        # emitted, so results are unaffected.
        return base.withColumn("ts", F.col("ts").cast("timestamp"))

    purchases = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    views = (
        _stream()
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("v_event_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("v_ts"),
        )
    )
    joined = stream_interval_join(
        purchases,
        views,
        left_key="user_id",
        right_key="v_user_id",
        left_ts="p_ts",
        right_ts="v_ts",
        lookback="2 hours",
        watermark="4 hours",
    )
    name = "stream_interval_join_sink"
    out = drain(spark, name, lambda: memory_sink(joined, name, "append"))
    return out.select(
        "p_event_id", "v_event_id", "user_id"
    )


_SQL_STREAM_INTERVAL_JOIN = """
SELECT p.event_id AS p_event_id, v.event_id AS v_event_id, p.user_id
FROM events p
JOIN events v
  ON p.user_id = v.user_id
 AND v.ts >= p.ts - INTERVAL 2 HOUR
 AND v.ts <= p.ts
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
"""


# ======================================================================
# TPC-H Q2 analog: min-cost supplier (correlated min-per-group)
# ======================================================================


def q_rel_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supplier per part (TPC-H Q2's correlated-min shape on
    the local schema — lineitem is the part↔supplier bridge): for
    STANDARD parts, the supplier(s) whose line hit the part's minimum
    line price among EUROPE suppliers.

    Plan shape: the correlated ``price = (SELECT min(price) … same
    part)`` decorrelates to ONE groupBy(partkey) aggregate broadcast-
    joined back on (partkey, price) — the per-part probe never runs per
    row. region→nation→supplier is a single broadcast dim; the min
    compare is exact integer cents, so ties are engine-independent.
    Deterministic top-100 by (acctbal desc, part, supplier)."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    li = load_table(spark, sf_dir, "lineitem")
    offers = (
        li.join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .select(
            "p_partkey",
            "p_name",
            "s_suppkey",
            "s_name",
            "n_name",
            _cents(F.col("s_acctbal")).alias("acctbal_cents"),
            _cents(F.col("l_extendedprice")).alias("price_cents"),
        )
    )
    best = offers.groupBy(F.col("p_partkey").alias("bp")).agg(
        F.min("price_cents").alias("best_cents")
    )
    return (
        offers.join(
            F.broadcast(best),
            (F.col("p_partkey") == F.col("bp"))
            & (F.col("price_cents") == F.col("best_cents")),
        )
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            "acctbal_cents", "price_cents",
        )
        .distinct()
        .orderBy(
            F.desc("acctbal_cents"), "p_partkey", "s_name"
        )
        .limit(100)
    )


_SQL_TPCH_Q2 = """
WITH offers AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, n_name,
         CAST(round(s_acctbal * 100) AS BIGINT) AS acctbal_cents,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  JOIN part ON l_partkey = p_partkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size <= 10
)
SELECT DISTINCT p_partkey, p_name, s_name, n_name,
       acctbal_cents, price_cents
FROM offers o
WHERE price_cents = (SELECT min(price_cents) FROM offers o2
                     WHERE o2.p_partkey = o.p_partkey)
ORDER BY acctbal_cents DESC, p_partkey, s_name
LIMIT 100
"""


# ======================================================================
# TPC-H Q7 analog: bilateral volume shipping
# ======================================================================

Q7_NATION_A, Q7_NATION_B = "NATION_1", "NATION_2"


def q_rel_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping volume between two nations, both directions, by ship
    year: supplier-nation from the line, customer-nation from the
    order. Both nation paths are broadcast dims pre-filtered to the two
    nations; the (A→B)|(B→A) disjunction rides the fact join, so the
    only shuffle is lineitem⋈orders."""
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.filter(
                    F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.filter(
                    F.col("n_name").isin(Q7_NATION_A, Q7_NATION_B)
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(cust), orders.o_custkey == F.col("c_custkey"))
        .filter(
            (
                (F.col("supp_nation") == Q7_NATION_A)
                & (F.col("cust_nation") == Q7_NATION_B)
            )
            | (
                (F.col("supp_nation") == Q7_NATION_B)
                & (F.col("cust_nation") == Q7_NATION_A)
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(_rev_cents(), F.count(F.lit(1)).alias("n_lines"))
    )


_SQL_TPCH_Q7 = f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(date_part('year', l_shipdate) AS INT) AS ship_year,
       {_SQL_REV_CENTS}, count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1999-01-01'
  AND ((ns.n_name = '{Q7_NATION_A}' AND nc.n_name = '{Q7_NATION_B}')
    OR (ns.n_name = '{Q7_NATION_B}' AND nc.n_name = '{Q7_NATION_A}'))
GROUP BY supp_nation, cust_nation, ship_year
"""


# ======================================================================
# TPC-H Q8 analog: national market share
# ======================================================================

Q8_SHARE_NATION = "NATION_3"


def q_rel_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share of one nation's suppliers in PROMO-part revenue to
    ASIA customers, by order year: numerator and denominator come out of
    ONE conditional aggregate (no second pass over the facts); the share
    itself is a single division of the two exact cent sums, identical on
    both engines."""
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    nation = load_table(spark, sf_dir, "nation")
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation).select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("s_suppkey", "supp_nation")
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "PROMO"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(
                F.when(
                    F.col("supp_nation") == Q8_SHARE_NATION, rev
                ).otherwise(F.lit(0).cast("long"))
            ).alias("nation_cents"),
            F.sum(rev).alias("total_cents"),
        )
        .select(
            "order_year",
            "nation_cents",
            "total_cents",
            F.round(
                F.col("nation_cents") / F.col("total_cents"), 6
            ).alias("share"),
        )
    )


_SQL_TPCH_Q8 = f"""
SELECT CAST(date_part('year', o_orderdate) AS INT) AS order_year,
       CAST(sum(CASE WHEN ns.n_name = '{Q8_SHARE_NATION}'
                THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                          AS BIGINT)
                ELSE 0 END) AS BIGINT) AS nation_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS total_cents,
       round(sum(CASE WHEN ns.n_name = '{Q8_SHARE_NATION}'
                      THEN CAST(round(l_extendedprice * (1 - l_discount)
                                      * 100) AS BIGINT)
                      ELSE 0 END)
             / sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                        AS BIGINT)), 6) AS share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation nc ON c_nationkey = nc.n_nationkey
JOIN region ON nc.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ns ON s_nationkey = ns.n_nationkey
JOIN part ON l_partkey = p_partkey
WHERE r_name = 'ASIA' AND p_type = 'PROMO'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY order_year
"""


# ======================================================================
# TPC-H Q9 analog: product-line profit decomposition
# ======================================================================


def q_rel_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by supplier nation and order year for parts named
    '%red%': profit = discounted revenue − unit cost × quantity, with
    10% of retail price standing in for Q9's ps_supplycost (no partsupp
    table in this schema). The amount expression is computed at the
    LINE level and pushed below the aggregate — the plan keeps one fact
    shuffle (lineitem⋈orders) with part/supplier/nation broadcast, and
    partial aggregation sees only (nation, year, amount) triples.
    Both profit terms are separately rounded to exact integer cents so
    the decomposition hashes identically cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    amount = (
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("long")
        - F.round(
            F.col("p_retailprice") * F.col("l_quantity") * 10
        ).cast("long")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").alias("order_year"),
        )
        .agg(
            F.sum(amount).alias("profit_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_SQL_TPCH_Q9 = """
SELECT n_name AS supp_nation,
       CAST(date_part('year', o_orderdate) AS INT) AS order_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)
           - CAST(round(p_retailprice * l_quantity * 10) AS BIGINT)) AS BIGINT)
         AS profit_cents,
       count(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY supp_nation, order_year
"""


# ======================================================================
# TPC-H Q20 analog: dominant-supplier screen (double decorrelation)
# ======================================================================


def q_rel_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EUROPE suppliers who DOMINATED some 'small%' part in 1998 —
    shipped more than half that part's total shipped quantity (TPC-H
    Q20's nested IN + correlated threshold, availqty replaced by the
    part's total shipped volume on this schema).

    Double decorrelation: the inner correlated aggregate becomes TWO
    grouped aggregates over the same filtered fact scan — per-part
    totals and per-(supplier, part) sums — joined on partkey with the
    threshold as an integer cross-multiplication; the outer IN becomes
    a left-semi broadcast join onto the supplier dim. No per-row
    subquery ever runs."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            "l_partkey",
            "l_suppkey",
            _cents(F.col("l_quantity")).alias("qty_c"),
        )
    )
    per_part = li.groupBy(F.col("l_partkey").alias("tp")).agg(
        F.sum("qty_c").alias("part_qty")
    )
    per_supp_part = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("qty_c").alias("supp_qty")
    )
    dominant = (
        per_supp_part.join(
            F.broadcast(per_part), F.col("l_partkey") == F.col("tp")
        )
        .filter(F.col("supp_qty") * 2 > F.col("part_qty"))
        .select("l_suppkey")
        .distinct()
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    nation = load_table(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return (
        supp.join(
            dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_suppkey", "s_name", "n_name")
    )


_SQL_TPCH_Q20 = """
WITH f AS (
  SELECT l_partkey, l_suppkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_shipdate < TIMESTAMP '1999-01-01'
),
per_part AS (
  SELECT l_partkey AS tp, sum(qty_c) AS part_qty FROM f GROUP BY 1
),
dominant AS (
  SELECT DISTINCT l_suppkey
  FROM (SELECT l_suppkey, l_partkey, sum(qty_c) AS supp_qty
        FROM f GROUP BY 1, 2) sp
  JOIN per_part ON sp.l_partkey = per_part.tp
  WHERE supp_qty * 2 > part_qty
)
SELECT s_suppkey, s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (SELECT l_suppkey FROM dominant)
"""


# ======================================================================
# TPC-H Q16 analog: supplier diversity per part descriptor
# ======================================================================


def q_rel_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier count per part descriptor, excluding suppliers
    on a complaints screen (TPC-H Q16's shape on the local schema —
    lineitem is the part↔supplier bridge; ``s_acctbal < 0`` plays the
    ``s_comment LIKE '%Complaints%'`` role).

    Plan shape: the ``NOT IN (SELECT s_suppkey …)`` screen decorrelates
    to a BROADCAST left-anti join (the complaint list is supplier-dim
    sized, never fact sized); the part descriptor filter is a broadcast
    dim join with the brand/type/size predicates pushed into the part
    scan; count(DISTINCT l_suppkey) expands to a two-level aggregate
    that partial-aggregates map-side. One fact shuffle total — the
    distinct-agg exchange on the (brand, type, size) key."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "MEDIUM")
        & (F.col("p_size").isin(1, 5, 9, 14, 19, 23, 36, 45))
    )
    complaints = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == F.col("p_partkey"))
        .join(
            F.broadcast(complaints),
            li.l_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


_SQL_TPCH_Q16 = """
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#45'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


# ======================================================================
# registry
# ======================================================================

QUERIES5: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rel_tpch_q3": q_rel_tpch_q3,
    "rel_tpch_q5": q_rel_tpch_q5,
    "rel_tpch_q10": q_rel_tpch_q10,
    "rel_tpch_q2": q_rel_tpch_q2,
    "rel_tpch_q7": q_rel_tpch_q7,
    "rel_tpch_q8": q_rel_tpch_q8,
    "rel_tpch_q9": q_rel_tpch_q9,
    "rel_tpch_q20": q_rel_tpch_q20,
    "rel_tpch_q16": q_rel_tpch_q16,
    "src_partitioned_prune": q_src_partitioned_prune,
    "stream_interval_join": q_stream_interval_join,
}


def oracles5() -> Dict[str, str]:
    return {
        "rel_tpch_q3": _SQL_TPCH_Q3,
        "rel_tpch_q5": _SQL_TPCH_Q5,
        "rel_tpch_q10": _SQL_TPCH_Q10,
        "rel_tpch_q2": _SQL_TPCH_Q2,
        "rel_tpch_q7": _SQL_TPCH_Q7,
        "rel_tpch_q8": _SQL_TPCH_Q8,
        "rel_tpch_q9": _SQL_TPCH_Q9,
        "rel_tpch_q20": _SQL_TPCH_Q20,
        "rel_tpch_q16": _SQL_TPCH_Q16,
        "src_partitioned_prune": _SQL_PARTITIONED_PRUNE,
        "stream_interval_join": _SQL_STREAM_INTERVAL_JOIN,
    }
