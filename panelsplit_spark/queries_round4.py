"""Round-4 breadth (part 10): distributed selection / histogram
quantiles, small-files compaction gate, URL canonicalization, and
deterministic negative sampling.

Same contract as every other part: each query is a Spark DataFrame
program paired with an ANSI-SQL oracle DuckDB runs over the same
parquet; aliases match on both sides; every numeric output is an exact
integer (or a pinned string/boolean) so the cross-engine value hash is
bit-stable. Conventions: see ``queries.py`` module docstring.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .sources.tables import load_table

# ----------------------------------------------------------------------
# Distributed quantiles: mergeable histogram + two-phase exact selection
# ----------------------------------------------------------------------

QS_BIN_W = 100_000  # histogram bin width in cents ($1,000)
QS_QBPS = [2500, 5000, 9000, 9900]  # quantiles in basis points


def q_rel_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed order statistics over ``lineitem.l_extendedprice``:
    a mergeable equi-width histogram answers each quantile to within one
    bin width, then ONE more narrow pass resolves the exact k-th value —
    the classic two-phase selection that replaces a full global sort.

    Output per requested quantile (basis points): the rank ``k_rank``,
    the histogram estimate (``est_cents`` = lower edge of the bin
    containing the k-th value, so ``0 <= err_cents < bin width`` is the
    sketch's a-priori guarantee), and the exact k-th smallest value.

    Plan shape at 100 TB: phase 1 is one map-side-combinable groupBy on
    ``bin`` (state = #bins, fixed by the value domain, NOT the row
    count); the cumulative window runs over that bin-sized table. Phase
    2 re-scans with a broadcast 4-row bin filter — only rows in the 4
    target bins survive the scan (predicate pushdown on the binned
    column's source range), and the per-value aggregation state is
    bounded by distinct values within one bin. No global sort anywhere.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    )
    binned = li.withColumn("bin", F.expr(f"cents div {QS_BIN_W}"))
    hist = binned.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    # bin count is domain-sized (~100), so the unpartitioned cumulative
    # window is a single tiny task by construction
    h2 = hist.withColumn("cum", F.sum("cnt").over(wb))
    tot = hist.agg(F.sum("cnt").alias("n"))
    qf = spark.createDataFrame([(q,) for q in QS_QBPS], "q_bp long")
    qk = qf.crossJoin(F.broadcast(tot)).select(
        "q_bp",
        F.expr("(q_bp * n + 9999) div 10000").alias("k_rank"),
    )
    # locate the bin whose cumulative count first reaches k: a 4-row x
    # #bins broadcast range join (BNLJ by design — both sides are
    # driver-tiny, see plan-audit whitelist)
    target = qk.join(
        F.broadcast(h2),
        (F.col("cum") >= F.col("k_rank"))
        & (F.col("cum") - F.col("cnt") < F.col("k_rank")),
    ).select(
        "q_bp",
        "k_rank",
        (F.col("bin") * QS_BIN_W).alias("est_cents"),
        F.col("bin").alias("tbin"),
        (F.col("k_rank") - (F.col("cum") - F.col("cnt"))).alias("off"),
    )
    # the target set is quantile-count-sized (4 rows) — collect it and
    # re-enter the plan as literals, so phase 2's bin restriction turns
    # into a SARGable `cents` range predicate that reaches the parquet
    # scan (PushedFilters), instead of filtering post-scan through a
    # broadcast join. Same driver-small-collect class as the centroid
    # and dim-sniff literals used elsewhere.
    trows = target.collect()
    if not trows:
        # empty source: mirror the SQL oracle's 0-row result instead of
        # crashing on min()/max() of an empty target set
        return spark.createDataFrame(
            [],
            "q_bp long, k_rank long, est_cents long, exact_cents long, "
            "err_cents long",
        )
    tlit = spark.createDataFrame(
        [
            (r["q_bp"], r["k_rank"], r["est_cents"], r["tbin"], r["off"])
            for r in trows
        ],
        "q_bp long, k_rank long, est_cents long, tbin long, off long",
    )
    lo = min(r["tbin"] for r in trows) * QS_BIN_W
    hi = (max(r["tbin"] for r in trows) + 1) * QS_BIN_W
    # phase-2 scan: the range lands on the SOURCE column (slightly
    # widened for the cents rounding), so it pushes into the parquet
    # reader and prunes row groups; the exact bin equality still
    # applies post-scan via the 4-row broadcast
    rescan = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_extendedprice") >= (lo - 1) / 100.0)
            & (F.col("l_extendedprice") < (hi + 1) / 100.0)
        )
        .select(
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("cents")
        )
        .withColumn("bin", F.expr(f"cents div {QS_BIN_W}"))
    )
    in_bin = rescan.join(F.broadcast(tlit), rescan["bin"] == tlit["tbin"])
    pv = in_bin.groupBy("q_bp", "k_rank", "est_cents", "off", "cents").agg(
        F.count(F.lit(1)).alias("c2")
    )
    wv = (
        Window.partitionBy("q_bp")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pc = pv.withColumn("cum2", F.sum("c2").over(wv))
    return (
        pc.where(F.col("cum2") >= F.col("off"))
        .groupBy("q_bp", "k_rank", "est_cents")
        .agg(F.min("cents").alias("exact_cents"))
        .select(
            "q_bp",
            "k_rank",
            "est_cents",
            "exact_cents",
            (F.col("exact_cents") - F.col("est_cents")).alias("err_cents"),
        )
        .orderBy("q_bp")
    )


def _sql_quantile_sketch() -> str:
    qvals = ",".join(f"({q})" for q in QS_QBPS)
    return f"""
WITH li AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents FROM lineitem
),
b AS (SELECT cents, cents // {QS_BIN_W} AS bin FROM li),
hist AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY bin),
h2 AS (
  SELECT bin, cnt,
         CAST(sum(cnt) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM hist
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
q AS (SELECT CAST(q_bp AS BIGINT) AS q_bp
      FROM (VALUES {qvals}) AS t(q_bp)),
qk AS (SELECT q_bp, (q_bp * n + 9999) // 10000 AS k_rank FROM q, tot),
target AS (
  SELECT qk.q_bp, qk.k_rank, h2.bin * {QS_BIN_W} AS est_cents,
         h2.bin AS tbin, qk.k_rank - (h2.cum - h2.cnt) AS off
  FROM qk JOIN h2
    ON h2.cum >= qk.k_rank AND h2.cum - h2.cnt < qk.k_rank
),
pv AS (
  SELECT t.q_bp, t.k_rank, t.est_cents, t.off, b.cents,
         CAST(count(*) AS BIGINT) AS c2
  FROM b JOIN target t ON b.bin = t.tbin
  GROUP BY 1, 2, 3, 4, 5
),
pc AS (
  SELECT q_bp, k_rank, est_cents, off, cents,
         CAST(sum(c2) OVER (PARTITION BY q_bp ORDER BY cents
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2
  FROM pv
)
SELECT q_bp, k_rank, est_cents,
       min(cents) AS exact_cents,
       CAST(min(cents) - est_cents AS BIGINT) AS err_cents
FROM pc
WHERE cum2 >= off
GROUP BY q_bp, k_rank, est_cents
ORDER BY q_bp"""


# ----------------------------------------------------------------------
# Small-files compaction: content-fidelity gate
# ----------------------------------------------------------------------


def _rt_dir(leaf: str) -> str:
    import os

    return os.path.join(os.getcwd(), "spark-warehouse", "roundtrip", leaf)


def q_src_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance-op gate: simulate a tiny-files ingest (64-way
    fragmented parquet write of ``events``), run
    :func:`~panelsplit_spark.sources.tables.compact_parquet` into
    size-targeted files, read the compacted copy back, and prove the
    bytes moved losslessly: per-event-type row count, exact cents sum,
    id extrema, and an order-independent content fingerprint (sum of a
    32-bit md5 prefix per rendered row — mergeable, no giant
    driver-side string) must equal the same aggregates computed by the
    oracle on the ORIGINAL table. ``compacted`` pins the file-count
    reduction Spark-side.

    At 100 TB compaction is the op that keeps streaming sinks scannable
    (one file per micro-batch per partition otherwise); the fingerprint
    is how you verify it without comparing files row-by-row.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    src = _rt_dir("compact_src")
    dst = _rt_dir("compact_dst")
    ev.repartition(64).write.mode("overwrite").parquet(src)
    from .sources.tables import compact_parquet

    n_files = compact_parquet(spark, src, dst, target_file_mb=64)
    back = spark.read.parquet(dst)
    render = F.concat(
        F.col("event_id").cast("string"),
        F.lit(":"),
        F.unix_micros("ts").cast("string"),
        F.lit(":"),
        F.round(F.col("value") * 100).cast("long").cast("string"),
    )
    fp = F.conv(F.substring(F.md5(render), 1, 8), 16, 10).cast("long")
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "sum_cents"
            ),
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.sum(fp).alias("content_fp"),
        )
        # STRICT: the source is 64 fragments, so a no-op "compaction"
        # that returns 64 files must flip the flag false and go red
        # against the oracle's constant true — <= 64 would let a
        # zero-reduction rewrite pass (review finding, round 4)
        .withColumn("compacted", F.lit(bool(n_files < 64)))
        .orderBy("event_type")
    )


_SQL_COMPACTION = """
WITH r AS (
  SELECT event_type,
         concat(CAST(event_id AS VARCHAR), ':',
                CAST(epoch_us(ts) AS VARCHAR), ':',
                CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)) AS render,
         CAST(round(value * 100) AS BIGINT) AS cents,
         event_id
  FROM events
)
SELECT event_type,
       count(*) AS n,
       CAST(sum(cents) AS BIGINT) AS sum_cents,
       min(event_id) AS min_id,
       max(event_id) AS max_id,
       CAST(sum(CAST(concat('0x', substr(md5(render), 1, 8)) AS BIGINT))
            AS BIGINT) AS content_fp,
       true AS compacted
FROM r
GROUP BY event_type
ORDER BY event_type"""


# ----------------------------------------------------------------------
# URL canonicalization: variant collapse over a synthesized crawl column
# ----------------------------------------------------------------------


def _synth_url(doc_id: F.Column) -> F.Column:
    """Deterministic crawl-style URL with variant noise: mixed-case
    host (id%3), explicit default port (id%5), trailing slash (id%4),
    tracking params + shuffled param order (id%2), fragment (id%7).
    ``id % 200`` keys the canonical page, so every canonical URL has
    multiple raw variants."""
    key = (doc_id % 200).cast("string")
    host = F.when(doc_id % 3 == 0, F.lit("Data.Example.COM")).otherwise(
        F.lit("data.example.com")
    )
    port = F.when(doc_id % 5 == 0, F.lit(":443")).otherwise(F.lit(""))
    slash = F.when(doc_id % 4 == 0, F.lit("/")).otherwise(F.lit(""))
    params = F.when(
        doc_id % 2 == 0,
        F.concat(F.lit("utm_source=feed&id="), key, F.lit("&v=2")),
    ).otherwise(F.concat(F.lit("v=2&id="), key))
    frag = F.when(doc_id % 7 == 0, F.lit("#sec")).otherwise(F.lit(""))
    return F.concat(
        F.lit("https://"),
        host,
        port,
        F.lit("/corpus/"),
        key,
        slash,
        F.lit("?"),
        params,
        frag,
    )


def _sql_synth_url() -> str:
    key = "CAST(doc_id % 200 AS VARCHAR)"
    return (
        "concat('https://', "
        "CASE WHEN doc_id % 3 = 0 THEN 'Data.Example.COM' ELSE 'data.example.com' END, "
        "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END, "
        f"'/corpus/', {key}, "
        "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END, "
        "'?', "
        "CASE WHEN doc_id % 2 = 0 "
        f"THEN concat('utm_source=feed&id=', {key}, '&v=2') "
        f"ELSE concat('v=2&id=', {key}) END, "
        "CASE WHEN doc_id % 7 = 0 THEN '#sec' ELSE '' END)"
    )


def q_pipe_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup after canonicalization: collapse case / default
    port / tracking-param / param-order / trailing-slash / fragment
    variants onto one canonical key and count variants per page.

    The canonicalizer (:mod:`operators.web`) is a pure Catalyst
    projection (regexp + array HOFs, no UDF, no shuffle); the only
    shuffle here is the final canonical-key groupBy — exactly the
    shape URL dedup keeps at crawl scale, where raw-string dedup
    misses most duplicates. The oracle re-implements the same RFC 3986
    normalization rules independently in DuckDB list lambdas.
    """
    from .operators.web import canonicalize_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    urls = docs.select(
        "doc_id", _synth_url(F.col("doc_id")).alias("url")
    )
    return (
        urls.select(canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_variants"))
        .orderBy("canonical_url")
    )


def _sql_url_canonical() -> str:
    from .operators.web import duckdb_canonicalize_url

    return f"""
WITH u AS (SELECT {_sql_synth_url()} AS url FROM documents),
c AS (SELECT {duckdb_canonicalize_url('url')} AS canonical_url FROM u)
SELECT canonical_url, count(*) AS n_variants
FROM c GROUP BY canonical_url ORDER BY canonical_url"""


# ----------------------------------------------------------------------
# Deterministic negative sampling for contrastive training pairs
# ----------------------------------------------------------------------

NS_K = 4  # negatives per anchor
NS_ANCHOR_MAX = 100


def q_pipe_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep: for every anchor document, draw
    ``NS_K`` pseudo-random negatives from the full pool by hashing
    ``(anchor, j)`` onto the dense doc-id space — content-addressed, so
    the draw is reproducible across runs, partitionings, and engines
    (no RNG state). A collision with the anchor itself advances to the
    next id (mod pool size).

    Plan: anchors fan out K-fold via ``sequence``/``explode`` (narrow),
    the pool size arrives as a broadcast single-row aggregate, and the
    payload lookup is ONE equi-join keyed on the sampled id — the join
    shuffles the pool once regardless of K. At 100 TB the pool side is
    the big relation and this is a plain shuffled hash/SMJ; nothing is
    collected.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang"
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    anchors = docs.where(F.col("doc_id") < NS_ANCHOR_MAX).select(
        F.col("doc_id").alias("anchor_id")
    )
    fan = anchors.withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(NS_K - 1)))
    ).crossJoin(F.broadcast(tot))
    raw = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit("#"),
                    F.col("j").cast("string"),
                    F.lit("ns"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    fan = fan.withColumn("neg0", raw % F.col("n_docs"))
    fan = fan.withColumn(
        "neg_id",
        F.when(
            F.col("neg0") == F.col("anchor_id"),
            (F.col("neg0") + 1) % F.col("n_docs"),
        ).otherwise(F.col("neg0")),
    )
    pool = docs.select(
        F.col("doc_id").alias("neg_id"),
        F.col("source").alias("neg_source"),
        F.col("lang").alias("neg_lang"),
    )
    return (
        fan.join(pool, "neg_id")
        .select(
            "anchor_id",
            F.col("j").cast("long").alias("j"),
            "neg_id",
            "neg_source",
            "neg_lang",
        )
        .orderBy("anchor_id", "j")
    )


def _sql_negative_sample() -> str:
    return f"""
WITH tot AS (SELECT count(*) AS n_docs FROM documents),
a AS (SELECT doc_id AS anchor_id FROM documents
      WHERE doc_id < {NS_ANCHOR_MAX}),
j AS (SELECT unnest(generate_series(0, {NS_K - 1})) AS j),
f AS (
  SELECT anchor_id, j,
         CAST(concat('0x', substr(md5(concat(CAST(anchor_id AS VARCHAR), '#',
              CAST(j AS VARCHAR), 'ns')), 1, 8)) AS BIGINT) % n_docs AS neg0,
         n_docs
  FROM a, j, tot
),
g AS (
  SELECT anchor_id, CAST(j AS BIGINT) AS j,
         CASE WHEN neg0 = anchor_id THEN (neg0 + 1) % n_docs
              ELSE neg0 END AS neg_id
  FROM f
)
SELECT g.anchor_id, g.j, g.neg_id,
       d.source AS neg_source, d.lang AS neg_lang
FROM g JOIN documents d ON d.doc_id = g.neg_id
ORDER BY anchor_id, j"""


# ----------------------------------------------------------------------
# Streaming mergeable-histogram quantiles
# ----------------------------------------------------------------------

SQ_BIN_W = 1_000  # cents per bin ($10) over events.value
SQ_BATCHES = 4


def q_stream_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online quantiles from a streaming mergeable histogram: the
    events feed arrives as four deterministic micro-batches (event_id
    mod 4); each batch folds its bin counts additively into the running
    state (streaming/rolling.stream_histogram_quantiles), and after a
    closed availableNow drain the state answers the same basis-point
    quantiles as the batch sketch. Because bin counts are additive, the
    answer is provably independent of the batch chopping — which is
    exactly what the batch oracle (full-table histogram in SQL) checks.

    Output: ``(q_bp, k_rank, est_cents)`` — the histogram estimate
    (lower bin edge); exact within-bin resolution is the batch
    operator's job (rel_quantile_sketch)."""
    from .sources.tables import configure
    from .streaming.rolling import (
        chop_n,
        drain,
        feed_stream,
        stream_histogram_quantiles,
    )

    configure(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    name = "stream_quantile_sink"
    n = chop_n(SQ_BATCHES)
    hist = drain(spark, name, lambda: stream_histogram_quantiles(
        feed_stream(ev, F.col("event_id") % n, n, "quantile_feed"),
        "cents", SQ_BIN_W, query_name=name,
    ))
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    h2 = hist.withColumn("cum", F.sum("cnt").over(wb))
    tot = hist.agg(F.sum("cnt").alias("n"))
    qf = spark.createDataFrame([(q,) for q in QS_QBPS], "q_bp long")
    qk = qf.crossJoin(F.broadcast(tot)).select(
        "q_bp", F.expr("(q_bp * n + 9999) div 10000").alias("k_rank")
    )
    return (
        qk.join(
            F.broadcast(h2),
            (F.col("cum") >= F.col("k_rank"))
            & (F.col("cum") - F.col("cnt") < F.col("k_rank")),
        )
        .select(
            "q_bp", "k_rank", (F.col("bin") * SQ_BIN_W).alias("est_cents")
        )
        .orderBy("q_bp")
    )


def _sql_stream_quantile() -> str:
    qvals = ",".join(f"({q})" for q in QS_QBPS)
    return f"""
WITH b AS (
  SELECT CAST(round(value * 100) AS BIGINT) // {SQ_BIN_W} AS bin FROM events
),
hist AS (SELECT bin, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY bin),
h2 AS (
  SELECT bin, cnt,
         CAST(sum(cnt) OVER (ORDER BY bin
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM hist
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist),
q AS (SELECT CAST(q_bp AS BIGINT) AS q_bp FROM (VALUES {qvals}) AS t(q_bp)),
qk AS (SELECT q_bp, (q_bp * n + 9999) // 10000 AS k_rank FROM q, tot)
SELECT qk.q_bp, qk.k_rank, h2.bin * {SQ_BIN_W} AS est_cents
FROM qk JOIN h2
  ON h2.cum >= qk.k_rank AND h2.cum - h2.cnt < qk.k_rank
ORDER BY qk.q_bp"""


# ----------------------------------------------------------------------
# Near-dup threshold calibration sweep
# ----------------------------------------------------------------------

TS_BUCKET_BP = 500  # 0.05-wide cosine buckets, reported in basis points


def q_emb_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold calibration: the pair-count-vs-cosine curve an
    operator reads before picking the near-dup cutoff. LSH candidate
    pairs are exact-verified once, then bucketed by raw cosine into
    0.05 bands; ``n_ge`` (pairs at or above each band) is the running
    answer to "how many pairs would a threshold here merge".

    One extra aggregation + one ~20-row cumulative window beyond the
    candidate verify — the sweep costs nothing over a single-threshold
    run, which is the point: choose the threshold from data, not by
    rerunning the pipeline per guess. Buckets floor the RAW cosine
    (bit-identical cross-engine); rounding first would flip edges."""
    from .operators import dedup
    from .queries_data import EMB_DIM, LSH_PLANES, LSH_SEED, LSH_TABLES

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_duplicates(
        emb,
        threshold=0.0,
        n_planes=LSH_PLANES,
        n_tables=LSH_TABLES,
        seed=LSH_SEED,
        dim=EMB_DIM,
    )
    bucketed = pairs.select(
        (F.floor(F.col("cosine") * 20) * TS_BUCKET_BP)
        .cast("long")
        .alias("bucket_bp")
    ).groupBy("bucket_bp").agg(F.count(F.lit(1)).alias("n_pairs"))
    wrev = (
        Window.orderBy(F.col("bucket_bp").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        bucketed.withColumn("n_ge", F.sum("n_pairs").over(wrev))
        .orderBy("bucket_bp")
    )


def _sql_threshold_sweep() -> str:
    from .queries_data import _sql_emb_near_dup

    pairs = _sql_emb_near_dup(thr=0.0, raw=True).strip()
    return f"""
WITH pairs AS ({pairs}),
b AS (
  SELECT CAST(floor(cos_raw * 20) * {TS_BUCKET_BP} AS BIGINT) AS bucket_bp
  FROM pairs
),
g AS (SELECT bucket_bp, CAST(count(*) AS BIGINT) AS n_pairs
      FROM b GROUP BY bucket_bp)
SELECT bucket_bp, n_pairs,
       CAST(sum(n_pairs) OVER (ORDER BY bucket_bp DESC
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_ge
FROM g
ORDER BY bucket_bp"""


# ----------------------------------------------------------------------
# Host-level corpus rollup over canonical URLs
# ----------------------------------------------------------------------


def _synth_host_url(doc_id: F.Column, source: F.Column) -> F.Column:
    """Crawl-style URL whose host derives from the document source
    (20 hosts), with the same variant noise classes as ``_synth_url``:
    case (id%3), default port (id%5), tracking params (id%2),
    trailing slash (id%4). ``id % 40`` keys the page within a host."""
    key = (doc_id % 40).cast("string")
    host = F.concat(
        F.when(doc_id % 3 == 0, F.upper(source)).otherwise(F.lower(source)),
        F.lit(".example.com"),
    )
    port = F.when(doc_id % 5 == 0, F.lit(":443")).otherwise(F.lit(""))
    slash = F.when(doc_id % 4 == 0, F.lit("/")).otherwise(F.lit(""))
    params = F.when(
        doc_id % 2 == 0,
        F.concat(F.lit("utm_medium=crawl&p="), key),
    ).otherwise(F.concat(F.lit("p="), key))
    return F.concat(
        F.lit("https://"), host, port, F.lit("/page/"), key, slash,
        F.lit("?"), params,
    )


def _sql_synth_host_url() -> str:
    key = "CAST(doc_id % 40 AS VARCHAR)"
    return (
        "concat('https://', "
        "CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE lower(source) END, "
        "'.example.com', "
        "CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END, "
        f"'/page/', {key}, "
        "CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END, "
        "'?', "
        "CASE WHEN doc_id % 2 = 0 "
        f"THEN concat('utm_medium=crawl&p=', {key}) "
        f"ELSE concat('p=', {key}) END)"
    )


def q_pipe_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level crawl hygiene rollup: canonicalize every URL, then
    per host report raw URL count, distinct canonical pages, and the
    duplication ratio (basis points, integer ``div``) — the table a
    crawl operator reads to find mirror-heavy or parameter-spamming
    hosts worth special-casing.

    Two keyed aggregations (canonical page, then host), both map-side
    combinable; the canonicalizer itself is a narrow codegen
    projection. At crawl scale the host rollup is catalog-sized."""
    from .operators.web import canonicalize_url

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    urls = docs.select(
        _synth_host_url(F.col("doc_id"), F.col("source")).alias("url")
    )
    pages = (
        urls.select(canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn(
            "host",
            F.regexp_extract(F.col("canonical_url"), r"://([^/?#]+)", 1),
        )
    )
    return (
        pages.groupBy("host")
        .agg(
            F.sum("n").alias("n_urls"),
            F.count(F.lit(1)).alias("n_pages"),
        )
        .withColumn(
            "dup_ratio_bp",
            F.expr("((n_urls - n_pages) * 10000) div n_urls"),
        )
        .orderBy("host")
    )


def _sql_host_stats() -> str:
    from .operators.web import duckdb_canonicalize_url

    return f"""
WITH u AS (SELECT {_sql_synth_host_url()} AS url FROM documents),
c AS (SELECT {duckdb_canonicalize_url('url')} AS canonical_url FROM u),
pages AS (
  SELECT canonical_url, CAST(count(*) AS BIGINT) AS n,
         regexp_extract(canonical_url, '://([^/?#]+)', 1) AS host
  FROM c GROUP BY canonical_url
)
SELECT host,
       CAST(sum(n) AS BIGINT) AS n_urls,
       count(*) AS n_pages,
       ((CAST(sum(n) AS BIGINT) - count(*)) * 10000)
         // CAST(sum(n) AS BIGINT) AS dup_ratio_bp
FROM pages
GROUP BY host
ORDER BY host"""


# ----------------------------------------------------------------------
# Key-skew audit
# ----------------------------------------------------------------------


def q_rel_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile of ``lineitem.l_orderkey`` UNIONED with the
    synthetic hot-key column used by the salted-join gate — the
    measurement a pipeline runs BEFORE picking a join strategy
    (operators/skew.key_skew_profile): per-key counts bucketed by
    power-of-two magnitude, with key counts, row mass, max count, and
    integer-basis-point share per bucket. A long tail into high
    buckets = heavy hitters = salt or let AQE skew-split."""
    from .operators.skew import key_skew_profile

    li = load_table(spark, sf_dir, "lineitem").select(
        # fold ~5% of rows onto one hot key so the profile shows a
        # heavy-hitter bucket at every SF (mirrors rel_salted_join's
        # skew construction), deterministically
        F.when(F.col("l_orderkey") % 20 == 0, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k")
    )
    return key_skew_profile(li, "k")


_SQL_SKEW_AUDIT = """
WITH per_key AS (
  SELECT CASE WHEN l_orderkey % 20 = 0 THEN 1 ELSE l_orderkey END AS k,
         CAST(count(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1
),
hist AS (
  SELECT CAST(length(bin(cnt)) AS BIGINT) AS blen,
         count(*) AS n_keys,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         max(cnt) AS max_cnt
  FROM per_key GROUP BY 1
),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows FROM per_key)
SELECT blen, n_keys, n_rows, max_cnt,
       (n_rows * 10000) // total_rows AS share_bp
FROM hist, tot
ORDER BY blen"""


# ----------------------------------------------------------------------
# Dynamic partition pruning witness
# ----------------------------------------------------------------------


def q_src_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-partition-pruning gate: the fact table is written
    hive-partitioned by day, and the day filter arrives only at RUNTIME
    through a join against a derived dim (days whose day-of-month ends
    in 3) — no static predicate exists for the planner to push. Spark
    must still prune: the executed plan carries
    ``dynamicpruningexpression(day IN dynamicpruning#N)`` in the fact
    scan's PartitionFilters (asserted by the plan test), reusing the
    dim's broadcast as the pruning subquery.

    This is the 100 TB access pattern for date-partitioned facts joined
    to filtered calendars/campaign dims: without DPP the scan reads
    every partition and the join discards 90% of it after I/O."""
    import os

    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    )
    path = _rt_dir("events_by_day")
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    # partition-column type inference parses the day directory back as
    # DATE — join on it AS the partition column (deriving a string
    # first would hide the key from the pruning rule); render to the
    # oracle's string form only after the aggregate
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, sf_dir, "events")
        .select(
            F.to_date("ts").alias("day"),
            F.dayofmonth("ts").alias("dom"),
        )
        .where((F.col("dom") % 10) == 3)
        .select("day")
        .distinct()
    )
    return (
        fact.join(dim, "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
            F.min("event_id").alias("min_event"),
        )
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "n",
            "value_cents",
            "min_event",
        )
        .orderBy("day")
    )


_SQL_DPP_PRUNE = """
SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
       min(event_id) AS min_event
FROM events
WHERE CAST(strftime(ts, '%d') AS BIGINT) % 10 = 3
GROUP BY strftime(ts, '%Y-%m-%d')
ORDER BY day"""


# ----------------------------------------------------------------------
# Join-size estimation (planner arithmetic as a first-class audit)
# ----------------------------------------------------------------------


def q_rel_join_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram join-cardinality prediction for the skewed
    lineitem⋈orders join: per-key counts on each side, predicted output
    rows Σ cnt_l·cnt_r, the largest single key's contribution, and its
    integer-basis-point share (operators/skew.join_size_estimate). The
    same 5%-of-rows hot-key fold as ``rel_skew_audit`` is applied to
    the fact side, so the estimate exhibits the heavy-hitter signature
    (top_share_bp ≫ 0) a pipeline uses to choose salting/AQE BEFORE
    paying for the join. For an equi-join the prediction is exact —
    ``tests/test_round4.py`` gates predicted_pairs against the real
    join count as an identity witness."""
    from .operators.skew import join_size_estimate

    li = load_table(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 20 == 0, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("k")
    )
    od = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 20 == 0, F.lit(1))
        .otherwise(F.col("o_orderkey"))
        .alias("k")
    )
    return join_size_estimate(li, od, "k")


_SQL_JOIN_ESTIMATE = """
WITH lc AS (
  SELECT CASE WHEN l_orderkey % 20 = 0 THEN 1 ELSE l_orderkey END AS k,
         CAST(count(*) AS BIGINT) AS cnt_l
  FROM lineitem GROUP BY 1
),
rc AS (
  SELECT CASE WHEN o_orderkey % 20 = 0 THEN 1 ELSE o_orderkey END AS k,
         CAST(count(*) AS BIGINT) AS cnt_r
  FROM orders GROUP BY 1
),
ls AS (SELECT CAST(sum(cnt_l) AS BIGINT) AS left_rows,
              count(*) AS left_keys FROM lc),
rs AS (SELECT CAST(sum(cnt_r) AS BIGINT) AS right_rows,
              count(*) AS right_keys FROM rc),
m AS (
  SELECT count(*) AS matched_keys,
         CAST(sum(cnt_l * cnt_r) AS BIGINT) AS predicted_pairs,
         max(cnt_l * cnt_r) AS max_key_pairs
  FROM lc JOIN rc USING (k)
)
SELECT left_rows, right_rows, left_keys, right_keys, matched_keys,
       predicted_pairs, max_key_pairs,
       (max_key_pairs * 10000) // predicted_pairs AS top_share_bp
FROM m, ls, rs"""


# ----------------------------------------------------------------------
# Market-basket co-occurrence (within-order item pairs, support + lift)
# ----------------------------------------------------------------------


def q_pipe_item_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-order part-pair support and lift over lineitem
    (operators/basket.co_occurrence_pairs): orders reduced to their
    distinct parts (capped per group), pairs from a group-keyed
    self-join, lift = pair_cnt·n_groups / (cnt1·cnt2) as ONE unrounded
    double division of exact BIGINTs — the token/product co-occurrence
    statistic of a curation pipeline, bounded-explode by construction."""
    from .operators.basket import co_occurrence_pairs

    li = load_table(spark, sf_dir, "lineitem")
    return co_occurrence_pairs(
        li, "l_orderkey", "l_partkey", min_pair_count=3, max_items_per_group=16
    ).orderBy("i1", "i2")


_SQL_ITEM_PAIRS = """
WITH items0 AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                FROM lineitem WHERE l_partkey IS NOT NULL),
items AS (
  SELECT g, i FROM (
    SELECT g, i, row_number() OVER (PARTITION BY g ORDER BY i) AS rk
    FROM items0
  ) WHERE rk <= 16
),
cnts AS (SELECT i, CAST(count(*) AS BIGINT) AS cnt FROM items GROUP BY i),
ng AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n_groups FROM items),
pairs AS (
  SELECT a.i AS i1, b.i AS i2, CAST(count(*) AS BIGINT) AS pair_cnt
  FROM items a JOIN items b ON a.g = b.g AND a.i < b.i
  GROUP BY a.i, b.i
  HAVING count(*) >= 3
)
SELECT p.i1, p.i2, p.pair_cnt,
       c1.cnt AS cnt1, c2.cnt AS cnt2,
       (p.pair_cnt * n_groups) / (c1.cnt * c2.cnt) AS lift
FROM pairs p
JOIN cnts c1 ON c1.i = p.i1
JOIN cnts c2 ON c2.i = p.i2
CROSS JOIN ng
ORDER BY p.i1, p.i2"""


# ----------------------------------------------------------------------
# k-anonymity release gate
# ----------------------------------------------------------------------


def q_dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity exposure audit over customer quasi-identifiers
    (nation, market segment, $1000 account-balance band): per
    threshold k, equivalence classes and rows in classes smaller than
    k (operators/quality.k_anonymity_audit) — the privacy gate a
    release pipeline runs before publishing a shard."""
    from .operators.quality import k_anonymity_audit

    cu = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.expr(
            "CAST(round(c_acctbal * 100) AS BIGINT) div 100000"
        ).alias("bal_band"),
    )
    return k_anonymity_audit(
        cu, ["c_nationkey", "c_mktsegment", "bal_band"], ks=(2, 5, 10)
    )


_SQL_K_ANON = """
WITH q AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS bal_band
  FROM customer
),
sizes AS (
  SELECT CAST(count(*) AS BIGINT) AS cls_n
  FROM q GROUP BY c_nationkey, c_mktsegment, bal_band
),
hist AS (
  SELECT cls_n, CAST(count(*) AS BIGINT) AS n_cls FROM sizes GROUP BY cls_n
),
ks AS (SELECT CAST(unnest([2, 5, 10]) AS BIGINT) AS k)
SELECT k,
       CAST(sum(n_cls) AS BIGINT) AS n_classes,
       CAST(sum(cls_n * n_cls) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN cls_n < k THEN n_cls ELSE 0 END) AS BIGINT)
         AS classes_below,
       CAST(sum(CASE WHEN cls_n < k THEN cls_n * n_cls ELSE 0 END) AS BIGINT)
         AS rows_below,
       (CAST(sum(CASE WHEN cls_n < k THEN cls_n * n_cls ELSE 0 END) AS BIGINT)
         * 10000)
         // CAST(sum(cls_n * n_cls) AS BIGINT) AS exposed_bp
FROM hist CROSS JOIN ks
GROUP BY k
ORDER BY k"""


# ----------------------------------------------------------------------
# registry
# ----------------------------------------------------------------------

QUERIES10: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rel_quantile_sketch": q_rel_quantile_sketch,
    "src_compaction": q_src_compaction,
    "pipe_url_canonical": q_pipe_url_canonical,
    "pipe_negative_sample": q_pipe_negative_sample,
    "stream_quantile": q_stream_quantile,
    "emb_threshold_sweep": q_emb_threshold_sweep,
    "pipe_host_stats": q_pipe_host_stats,
    "src_dpp_prune": q_src_dpp_prune,
    "rel_skew_audit": q_rel_skew_audit,
    "rel_join_estimate": q_rel_join_estimate,
    "pipe_item_pairs": q_pipe_item_pairs,
    "dq_k_anonymity": q_dq_k_anonymity,
}


def oracles10() -> Dict[str, str]:
    return {
        "rel_quantile_sketch": _sql_quantile_sketch(),
        "src_compaction": _SQL_COMPACTION,
        "pipe_url_canonical": _sql_url_canonical(),
        "pipe_negative_sample": _sql_negative_sample(),
        "stream_quantile": _sql_stream_quantile(),
        "emb_threshold_sweep": _sql_threshold_sweep(),
        "pipe_host_stats": _sql_host_stats(),
        "src_dpp_prune": _SQL_DPP_PRUNE,
        "rel_skew_audit": _SQL_SKEW_AUDIT,
        "rel_join_estimate": _SQL_JOIN_ESTIMATE,
        "pipe_item_pairs": _SQL_ITEM_PAIRS,
        "dq_k_anonymity": _SQL_K_ANON,
    }
