"""Round-6 part D (part 17, split out of part 15 in round 7):
streaming gates 26-29 — Benford first-digit monitor (keyed-SUM count
monoid), online MinHash signatures (keyed-MIN idempotent monoid),
CUSUM change-point monitor (two-integer ordered recursion via
applyInPandasWithState), and the checkpoint-restart witness (a new
query resumes a stateful dropDuplicates from its checkpointLocation
with exactly-once across the restart). Each drains to its batch SQL
oracle verbatim under the universal chop-invariance property
(tests/test_streaming_chop.py).

Same contract as every part file: each Spark query is paired with a
byte-hash-equal DuckDB oracle over the same parquet.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .sources.tables import load_table


# ======================================================================
# stream_benford — 26th streaming gate: first-digit fraud monitor
# ======================================================================

_SBEN_BATCHES = 3


def q_stream_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Benford's-law monitor: lineitem prices arrive as three
    deterministic micro-batches; each folds its first-significant-digit
    counts into the running 9-row count table (the SAME keyed-SUM
    monoid as the KS/PSI gates — streaming/rolling.stream_ks_counts
    with one segment) and the drained table finishes through the exact
    integer-ppm Benford arithmetic of operators/quality.benford_audit,
    so the BATCH dq_benford oracle applies verbatim for ANY chop.
    State is 9 rows at any feed size — the always-on fabricated-data
    alarm a 100 TB monetary ingest keeps continuously true."""
    from .operators.quality import BENFORD_PPM
    from .sources.tables import configure
    from .streaming.rolling import (
        chop_n,
        drain,
        feed_stream,
        stream_ks_counts,
    )

    configure(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"),
        F.substring(
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("digit"),
    ).where(F.col("digit").between(1, 9)).withColumn(
        "seg", F.lit("all")
    )  # left LAZY on purpose (round 9): the one-scan ensure_feed_by
    # writer reads lineitem exactly once, so the pre-round-9
    # localCheckpoint (which guarded the old N-job writer's triple
    # re-scan, measured 18 s at sf1 back then) is a pure extra
    # materialization
    name = "stream_benford_sink"
    n = chop_n(_SBEN_BATCHES)
    counts = drain(spark, name, lambda: stream_ks_counts(
        feed_stream(li, F.col("k") % n, n, "benford_feed"),
        "seg", "digit", query_name=name,
    ))
    exp = spark.createDataFrame(
        [(k, v) for k, v in sorted(BENFORD_PPM.items())],
        "digit long, expected_ppm long",
    )
    c = counts.select(
        F.col("v").alias("digit"), F.col("c").alias("cnt")
    )
    tot = c.groupBy().agg(F.sum("cnt").alias("n_values"))
    return (
        exp.join(c, "digit", "left")
        .select(
            "digit",
            F.coalesce("cnt", F.lit(0)).alias("cnt"),
            "expected_ppm",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_values",
            F.expr("(cnt * 1000000) div n_values").alias(
                "observed_ppm"
            ),
            "expected_ppm",
            (
                F.expr("(cnt * 1000000) div n_values")
                - F.col("expected_ppm")
            ).alias("dev_ppm"),
        )
        .orderBy("digit")
    )


# the batch Benford oracle applies verbatim to the drained state
def _sql_stream_benford() -> str:
    from .queries_round4b import _SQL_BENFORD

    return _SQL_BENFORD

# ======================================================================
# stream_minhash — 27th streaming gate: online MinHash signatures
# ======================================================================

_SMH_BATCHES = 3
_SMH_HASHES = 12
_SMH_SHINGLE = 3


def q_stream_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MinHash signature maintenance: document shingles
    arrive as three deterministic micro-batches; each folds its
    per-(segment, hash-position) universal-hash mins into the running
    signature (streaming/rolling.stream_keyed_min). MIN is an
    IDEMPOTENT commutative monoid, so the drained signatures equal the
    batch signatures for ANY chop — the batch SQL oracle applies
    verbatim — and duplicate delivery (at-least-once feeds) cannot
    corrupt the state. Segments: English docs vs the rest; the
    finisher lines both signatures up per position and flags matches
    (their mean is the MinHash Jaccard estimate between the two
    sub-corpora — the online form of the cross-corpus overlap audit).
    State is 2×12 rows at any feed size; one md5 per shingle, the
    other 11 components are codegen integer ops (the
    minhash_signatures discipline)."""
    from .functions.hashing import (
        MINHASH_P,
        md5_long,
        minhash_params,
        word_ngrams,
        word_tokens,
    )
    from .sources.tables import configure
    from .streaming.rolling import (
        chop_n,
        drain,
        feed_stream,
        stream_keyed_min,
    )

    configure(spark)
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        F.when(F.col("lang") == "en", F.lit("en"))
        .otherwise(F.lit("rest"))
        .alias("seg"),
        F.explode(
            F.array_distinct(
                word_ngrams(word_tokens(F.col("text")), _SMH_SHINGLE)
            )
        ).alias("shingle"),
    ).select(
        "seg", (md5_long(F.col("shingle")) % F.lit(MINHASH_P)).alias("h")
    ).distinct()  # MIN is idempotent, so producer-side dedup of the
    # (seg, base-hash) rows changes nothing downstream (min over
    # distinct = min over all, for ANY chop — the chop predicate is on
    # h itself) while cutting the feed and the 12-way stacked drain ~5×
    # (80% of sf1 shingle rows are repeats). Left LAZY (round 9): the
    # one-scan ensure_feed_by writer runs the corpus explode exactly
    # once
    params = minhash_params(_SMH_HASHES)
    stack_expr = "stack({}, {}) as (j, u)".format(
        _SMH_HASHES,
        ", ".join(
            f"{j}L, ({a}L * h + {b}L) % {MINHASH_P}L"
            for j, (a, b) in enumerate(params)
        ),
    )
    name = "stream_minhash_sink"
    n = chop_n(_SMH_BATCHES)
    # the feed carries the 1× (seg, base-hash) rows; the 12-way
    # universal-hash stack runs INSIDE the stream (writing the stacked
    # rows would 12× the feed I/O for pure arithmetic)
    sig = drain(spark, name, lambda: stream_keyed_min(
        feed_stream(sh, F.col("h") % n, n, "minhash_feed").select(
            "seg", F.expr(stack_expr)
        ),
        ["seg", "j"], "u", query_name=name,
    ))
    en = sig.where(F.col("seg") == "en").select(
        "j", F.col("v").alias("sig_en")
    )
    rest = sig.where(F.col("seg") == "rest").select(
        "j", F.col("v").alias("sig_rest")
    )
    return (
        en.join(rest, "j")
        .select(
            "j",
            "sig_en",
            "sig_rest",
            (F.col("sig_en") == F.col("sig_rest"))
            .cast("long")
            .alias("is_match"),
        )
        .orderBy("j")
    )


def _sql_stream_minhash() -> str:
    from .functions.hashing import MINHASH_P, minhash_params
    from .queries_data import _duck_md5_long, _duck_shingles, _DUCK_TOKS

    params = minhash_params(_SMH_HASHES)
    per_j = "\n  UNION ALL\n".join(
        f"  SELECT seg, CAST({j} AS BIGINT) AS j,"
        f" min(({a} * h + {b}) % {MINHASH_P}) AS v FROM sh GROUP BY seg"
        for j, (a, b) in enumerate(params)
    )
    return f"""
WITH sh AS (
  SELECT CASE WHEN lang = 'en' THEN 'en' ELSE 'rest' END AS seg,
         {_duck_md5_long('shingle')} % {MINHASH_P} AS h
  FROM (
    SELECT lang,
           unnest(list_distinct({_duck_shingles(_SMH_SHINGLE)})) AS shingle
    FROM (SELECT lang, {_DUCK_TOKS} AS t FROM documents) d
  ) s
),
sig AS (
{per_j}
)
SELECT e.j, e.v AS sig_en, r.v AS sig_rest,
       CAST(CASE WHEN e.v = r.v THEN 1 ELSE 0 END AS BIGINT) AS is_match
FROM sig e JOIN sig r ON e.j = r.j AND e.seg = 'en' AND r.seg = 'rest'
ORDER BY e.j
"""

# ======================================================================
# stream_cusum — 28th streaming gate: online change-point monitor
# ======================================================================

_SCU_BATCHES = 3


def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM change-point monitor over daily order revenue
    per priority class (streaming/rolling.stream_cusum): the daily
    rollup feed arrives as three contiguous day-range micro-batches
    and the per-key recursion extends across batches from TWO exact
    integer scalars of state — the always-on "did the level shift"
    alarm a 100 TB revenue ingest keeps continuously true. Output rows
    are the batch operator's shape, so the batch feat_cusum oracle
    (window prefix identity) applies VERBATIM; the ordered-chop
    property (contiguous re-chops at 1/2/5/17 replay identically) is
    the streaming theorem."""
    from .queries_round4b import CU_H, CU_K
    from .sources.tables import configure
    from .streaming.rolling import (
        chop_n,
        drain,
        ensure_feed_ordered,
        memory_sink,
        replay_feed,
        stream_cusum,
    )

    configure(spark)
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
    name = "stream_cusum_sink"

    def start():
        feed = ensure_feed_ordered(
            daily, ["day", "prio"], chop_n(_SCU_BATCHES), "cusum_feed"
        )
        scored = stream_cusum(
            replay_feed(spark, daily.schema, feed), "prio", "day", "cents",
            drift_k=CU_K, threshold_h=CU_H,
        )
        return memory_sink(scored, name, "update")

    out = drain(spark, name, start)
    return out.select(
        "prio", "day", "cents", "cusum", "alarm"
    ).orderBy("prio", "day")


def _sql_stream_cusum() -> str:
    from .queries_round4b import _SQL_CUSUM

    return _SQL_CUSUM

# ======================================================================
# stream_checkpoint_resume — 29th gate: restart-from-checkpoint proof
# ======================================================================

_SCR_BATCHES = 3
_SCR_MOD = 1000


def q_stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpoint-restart witness — the streaming property none of the
    other 28 gates exercises: a stateful query (streaming
    dropDuplicates on a derived key) drains PART of the feed, STOPS,
    and a brand-new query object resumes from the same
    checkpointLocation over the grown feed. Exactly-once across the
    restart requires Spark to restore BOTH the source offsets (batch-1
    files must not replay into the sink) and the dedup state (batch-1
    keys arriving again in later batches must stay suppressed) — the
    recovery contract a 100 TB ingest actually relies on, proven here
    because every key lands in the file sink EXACTLY once and the key
    set equals the batch DISTINCT oracle. Output: (key, n_sink_rows=1)
    per distinct key."""
    import os
    import shutil

    from .queries_round4b import _fresh_feed
    from .sources.tables import configure, normalize_event_ts
    from .streaming.rolling import (
        chop_n,
        stream_shuffle_partitions,
        write_file_batches,
    )

    configure(spark)
    ev = normalize_event_ts(
        load_table(spark, sf_dir, "events")
    ).select((F.col("user_id") % _SCR_MOD).alias("kk"), "event_id")
    nb = chop_n(_SCR_BATCHES)
    batches = [
        ev.where(F.col("event_id") % nb == j) for j in range(nb)
    ]
    feed = _fresh_feed("ckpt_feed")
    base = os.path.join(os.getcwd(), "spark-warehouse", "sinks", "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    ckpt, sink = os.path.join(base, "cp"), os.path.join(base, "out")

    def drain():
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(feed)
        )
        with stream_shuffle_partitions(spark):
            q = (
                stream.select("kk")
                .dropDuplicates(["kk"])
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # phase 1: only the first file exists; drain and STOP
    write_file_batches(batches[:1], feed)
    drain()
    # phase 2: the feed grows; a NEW query resumes from the checkpoint
    for i, b in enumerate(batches[1:], start=1):
        tmp = feed + f".tmp{i}"
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        import glob as _glob

        src = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(src, os.path.join(feed, f"batch{i:03d}.parquet"))
        shutil.rmtree(tmp, ignore_errors=True)
    drain()
    out = spark.read.parquet(sink)
    return (
        out.groupBy("kk")
        .agg(F.count(F.lit(1)).alias("n_sink_rows"))
        .select(F.col("kk").cast("long").alias("kk"), "n_sink_rows")
        .orderBy("kk")
    )


_SQL_CHECKPOINT_RESUME = f"""
SELECT DISTINCT CAST(user_id % {_SCR_MOD} AS BIGINT) AS kk,
       CAST(1 AS BIGINT) AS n_sink_rows
FROM events ORDER BY kk
"""


QUERIES17: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "stream_benford": q_stream_benford,
    "stream_minhash": q_stream_minhash,
    "stream_cusum": q_stream_cusum,
    "stream_checkpoint_resume": q_stream_checkpoint_resume,
}


def oracles17() -> Dict[str, str]:
    return {
        "stream_benford": _sql_stream_benford(),
        "stream_minhash": _sql_stream_minhash(),
        "stream_cusum": _sql_stream_cusum(),
        "stream_checkpoint_resume": _SQL_CHECKPOINT_RESUME,
    }

