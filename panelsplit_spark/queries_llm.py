"""Query registry, part 8: LLM-pipeline breadth — BPE tokenizer
induction/encoding over the document corpus.

Same cross-engine determinism rules as queries.py: integer-exact
aggregates wherever possible, identical aliases, deterministic
tie-breaks on every LIMIT/argmax. The BPE oracle replays the *entire*
merge fixpoint in SQL (unrolled CTE rounds, same boundary-marked
representation, same replace semantics) — the same
replay-the-iteration pattern as the kmeans-IVF and online-linreg
oracles.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .operators.bpe import (
    bpe_fit,
    bpe_merge_frame,
    bpe_token_count_expr,
    word_frequency_table,
)
from .sources.tables import load_table

#: Merge rounds for the oracle-gated BPE queries. Small enough that the
#: unrolled SQL replay stays readable; large enough that later rounds
#: depend on earlier merges (multi-char symbols appear by round 3 on
#: this corpus).
BPE_MERGES = 8


# ======================================================================
# BPE vocabulary induction (fit)
# ======================================================================


def q_text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn BPE_MERGES merges from the corpus word-frequency table.

    Scale shape (operators/bpe.py): corpus scanned once (word-table
    shuffle with map-side combine); each round is one aggregation over
    the cached distinct-word table + a 1-row collect; merge application
    is a narrow codegen replace. Nothing corpus-sized ever reaches the
    driver."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_fit(docs, n_merges=BPE_MERGES)
    return bpe_merge_frame(spark, merges).orderBy("merge_round")


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the learned merges; per-source token
    accounting. Encoding touches only the distinct-(source, word)
    table — the merge chain is whole-stage-codegen replaces, so the
    per-word cost is O(n_merges) string scans with zero shuffles beyond
    the word-table build."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_fit(docs, n_merges=BPE_MERGES)
    wt_src = word_frequency_table(docs, extra_keys=["source"])
    n_syms = bpe_token_count_expr(F.col("word"), merges)
    return (
        wt_src.select("source", "wt", n_syms.alias("n_syms"))
        .groupBy("source")
        .agg(
            F.sum("wt").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct_words"),
            F.sum(F.col("wt") * F.col("n_syms")).alias("n_bpe_tokens"),
        )
        .orderBy("source")
    )


def _bpe_cte(n_merges: int) -> str:
    """Shared CTE chain replaying the BPE fit in DuckDB.

    Contract (mirrors operators/bpe.py exactly):

    * word table: lowercase whitespace tokens matching ``^[a-z]+$``,
      occurrence-counted;
    * representation: every symbol wrapped in ``|`` markers, so merge
      ``(a, b)`` is the plain replace ``|a||b| → |ab|`` — DuckDB's
      ``replace`` and Spark's share left-to-right non-overlapping
      semantics, and adjacent pair sites never share characters;
    * pair counts weighted by word frequency; argmax ties break on
      ``(lhs, rhs)`` — both integer-exact, so round selection is
      deterministic cross-engine;
    * round i CTEs: p{i} pair counts over r{i-1}, m{i} the winning
      pair, r{i} the merged representations.
    """
    parts = [
        """
WITH w AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wt FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY word
),
r0 AS (
  SELECT word, regexp_replace(word, '(.)', '|\\1|', 'g') AS rep, wt
  FROM w
)"""
    ]
    for i in range(1, n_merges + 1):
        parts.append(
            """,
p%(i)d AS (
  SELECT lhs, rhs, CAST(sum(wt) AS BIGINT) AS pair_count FROM (
    SELECT wt,
           UNNEST(list_transform(range(1, len(syms)), j -> syms[j])) AS lhs,
           UNNEST(list_transform(range(1, len(syms)), j -> syms[j + 1])) AS rhs
    FROM (
      SELECT string_split(substr(rep, 2, length(rep) - 2), '||') AS syms,
             wt
      FROM r%(p)d
    )
  )
  GROUP BY lhs, rhs
),
m%(i)d AS (
  SELECT lhs, rhs, pair_count
  FROM p%(i)d ORDER BY pair_count DESC, lhs, rhs LIMIT 1
),
r%(i)d AS (
  SELECT r.word,
         replace(r.rep,
                 '|' || m.lhs || '||' || m.rhs || '|',
                 '|' || m.lhs || m.rhs || '|') AS rep,
         r.wt
  FROM r%(p)d r, m%(i)d m
)""" % {"i": i, "p": i - 1}
        )
    return "".join(parts)


def _sql_bpe_merges(n_merges: int = BPE_MERGES) -> str:
    rows = "\nUNION ALL\n".join(
        "SELECT CAST(%(i)d AS BIGINT) AS merge_round, lhs, rhs, "
        "lhs || rhs AS merged, pair_count FROM m%(i)d" % {"i": i}
        for i in range(1, n_merges + 1)
    )
    return (
        _bpe_cte(n_merges)
        + "\nSELECT * FROM (\n"
        + rows
        + "\n) ORDER BY merge_round"
    )


def _sql_bpe_encode(n_merges: int = BPE_MERGES) -> str:
    return (
        _bpe_cte(n_merges)
        + """,
ws AS (
  SELECT source, word, CAST(count(*) AS BIGINT) AS wt FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS word
    FROM documents
  ) WHERE regexp_matches(word, '^[a-z]+$')
  GROUP BY source, word
)
SELECT ws.source,
       CAST(sum(ws.wt) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_distinct_words,
       CAST(sum(ws.wt * ((length(r.rep)
             - length(replace(r.rep, '|', ''))) // 2)) AS BIGINT)
         AS n_bpe_tokens
FROM ws JOIN r%(n)d r ON ws.word = r.word
GROUP BY ws.source
ORDER BY ws.source""" % {"n": n_merges}
    )


# ======================================================================
# PII scrubbing
# ======================================================================


def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction gate. The corpus itself is PII-free, so each doc is
    first decorated with synthetic PII derived deterministically from
    ``doc_id`` (email, phone, IPv4, SSN-style id) — the IDENTICAL
    expression runs in the oracle — then scrubbed with
    ``operators.text.pii_scrub`` and per-source accounting is compared:
    category hit counts AND the scrubbed text length (which proves the
    replacements happened byte-for-byte, not just the counts).

    Scale shape: decorate + count + replace are all codegen string ops —
    one narrow pass; the only shuffle is the final source-key rollup."""
    from .operators.text import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    decorated = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"), did,
            F.lit("@ex"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".org or +1 555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" ip 10."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".0."), (F.col("doc_id") % 100).cast("string"),
            F.lit(" id 123-45-6789"),
        ),
    )
    return (
        pii_scrub(decorated)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("n_emails"),
            F.sum("n_ssn").alias("n_ssns"),
            F.sum("n_phone").alias("n_phones"),
            F.sum("n_ipv4").alias("n_ips"),
            F.sum(F.length("clean_text")).alias("clean_chars"),
        )
        .orderBy("source")
    )


def _sql_pii_scrub() -> str:
    from .operators.text import PII_PATTERNS

    sql = """
WITH d AS (
  SELECT source,
         text || ' contact u' || CAST(doc_id AS VARCHAR)
              || '@ex' || CAST(doc_id % 7 AS VARCHAR)
              || '.org or +1 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' ip 10.' || CAST(doc_id % 256 AS VARCHAR)
              || '.0.' || CAST(doc_id % 100 AS VARCHAR)
              || ' id 123-45-6789' AS t
  FROM documents
)"""
    prev = "d"
    for i, (name, pat, repl) in enumerate(PII_PATTERNS, 1):
        sql += """,
s%(i)d AS (
  SELECT source, %(carry)s
         len(regexp_extract_all(t, '%(pat)s')) AS n_%(name)s,
         regexp_replace(t, '%(pat)s', '%(repl)s', 'g') AS t
  FROM %(prev)s
)""" % {
            "i": i,
            "prev": prev,
            "pat": pat,
            "repl": repl,
            "name": name,
            "carry": " ".join(
                f"n_{n}," for n, _, _ in PII_PATTERNS[: i - 1]
            ),
        }
        prev = f"s{i}"
    sql += f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_email) AS BIGINT) AS n_emails,
       CAST(sum(n_ssn) AS BIGINT) AS n_ssns,
       CAST(sum(n_phone) AS BIGINT) AS n_phones,
       CAST(sum(n_ipv4) AS BIGINT) AS n_ips,
       CAST(sum(length(t)) AS BIGINT) AS clean_chars
FROM {prev}
GROUP BY source
ORDER BY source"""
    return sql


# ======================================================================
# multimodal decode gate
# ======================================================================


def q_mm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the ``decode_media`` Arrow-batched payload transform:
    binary payloads (UTF-8 doc text) run through a deterministic fake
    transcoder (md5 digest bytes as the "decoded features"), and the
    decoded bytes are then aggregated JVM-side (hex-parse of the first
    and last feature byte). Oracle derives the same bytes from
    ``md5(text)`` hex.

    Scale shape: payload bytes move executor-local through Arrow batches
    only; the aggregation shuffles 3 small integer columns, never the
    payload."""
    import hashlib

    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    # the aggregation below consumes ONLY the decoded bytes: ship just
    # the payload into the seam and just the features back (guide §4.1
    # — mapInPandas is opaque to Catalyst, so unused columns would
    # cross the boundary in BOTH directions otherwise)
    payload = docs.select(
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )

    def md5_decoder(b: bytes) -> bytes:
        return hashlib.md5(b).digest()

    decoded = multimodal.decode_media(
        payload, decoder=md5_decoder, keep_cols=[]
    )
    hx = F.lower(F.hex(F.col("decoded")))
    b0 = F.conv(F.substring(hx, 1, 2), 16, 10).cast("long")
    b15 = F.conv(F.substring(hx, 31, 2), 16, 10).cast("long")
    return (
        decoded.select(
            (b0 % 8).alias("bucket"),
            b0.alias("b0"),
            b15.alias("b15"),
            F.length(F.col("decoded")).alias("n_bytes"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("b0").alias("sum_b0"),
            F.sum("b15").alias("sum_b15"),
            F.sum("n_bytes").alias("sum_bytes"),
        )
        .orderBy("bucket")
    )


_SQL_MM_DECODE = """
WITH h AS (SELECT md5(text) AS m FROM documents),
b AS (
  SELECT CAST(concat('0x', substr(m, 1, 2)) AS BIGINT) AS b0,
         CAST(concat('0x', substr(m, 31, 2)) AS BIGINT) AS b15
  FROM h
)
SELECT b0 % 8 AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(b0) AS BIGINT) AS sum_b0,
       CAST(sum(b15) AS BIGINT) AS sum_b15,
       CAST(count(*) * 16 AS BIGINT) AS sum_bytes
FROM b
GROUP BY bucket
ORDER BY bucket
"""


# ======================================================================
# quality-bucket mixture accounting
# ======================================================================

QB_SAMPLE_BP = 3750  # keep 37.5% of each bucket (basis points of 10000)


def q_pipe_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-quartile mixture accounting — the "bucket by quality,
    re-weight the mixture" step of a training-data pipeline. Quality is
    the deterministic heuristic score quantized to exact micro-units;
    quartile thresholds come from ONE global exact-percentile aggregate
    (group-free winsorize pattern: the corpus never sorts globally, the
    3 thresholds broadcast back); bucket assignment and the per-bucket
    deterministic hash-sample are codegen expressions.

    One shuffle (threshold aggregate) + one rollup shuffle; no global
    window, no driver data."""
    from .operators.sampling import hash_bucket
    from .operators.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = quality_score(docs).select(
        "doc_id",
        "n_ws_tokens",
        F.round(F.col("quality") * 1000000).cast("long").alias("q_micro"),
    )
    pct = F.expr("percentile(q_micro, array(0.25D, 0.5D, 0.75D))")
    thresholds = scored.select(pct.alias("__t"))
    t1 = F.round(F.col("__t")[0], 6)
    t2 = F.round(F.col("__t")[1], 6)
    t3 = F.round(F.col("__t")[2], 6)
    bucket = (
        F.lit(1)
        + (F.col("q_micro") > t1).cast("int")
        + (F.col("q_micro") > t2).cast("int")
        + (F.col("q_micro") > t3).cast("int")
    ).cast("long")
    kept = (
        hash_bucket(F.col("doc_id"), salt="qb") < F.lit(QB_SAMPLE_BP)
    ).cast("long")
    return (
        scored.crossJoin(F.broadcast(thresholds))
        .select(
            bucket.alias("bucket"),
            kept.alias("kept"),
            "n_ws_tokens",
            "q_micro",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept").alias("n_kept"),
            F.sum("n_ws_tokens").alias("n_tokens"),
            F.sum("q_micro").alias("quality_sum_micro"),
        )
        .orderBy("bucket")
    )


def _sql_quality_buckets() -> str:
    from .operators.sampling import duckdb_hash_bucket

    hb = duckdb_hash_bucket("doc_id", salt="qb")
    return f"""
WITH stats AS (
  SELECT doc_id,
         len(string_split(lower(text), ' ')) AS n_ws_tokens,
         length(text) AS n_chars,
         length(regexp_replace(lower(text), '[^a-z ]', '', 'g'))
           AS n_alpha_space,
         length(regexp_replace(lower(text), '[^0-9]', '', 'g')) AS n_digit
  FROM documents
),
scored AS (
  SELECT doc_id, n_ws_tokens,
         CAST(round(
           least(1.0, ln(1.0 + n_ws_tokens) / 5.0)
           * (1.0 - (n_chars - n_alpha_space - n_digit)
                    / greatest(n_chars, 1))
           * (1.0 - n_digit / greatest(n_chars, 1))
           * 1000000) AS BIGINT) AS q_micro
  FROM stats
),
t AS (
  SELECT round(quantile_cont(q_micro, 0.25), 6) AS t1,
         round(quantile_cont(q_micro, 0.5), 6) AS t2,
         round(quantile_cont(q_micro, 0.75), 6) AS t3
  FROM scored
)
SELECT CAST(1 + CAST(q_micro > t1 AS INT) + CAST(q_micro > t2 AS INT)
            + CAST(q_micro > t3 AS INT) AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CAST({hb} < {QB_SAMPLE_BP} AS INT)) AS BIGINT) AS n_kept,
       CAST(sum(n_ws_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(q_micro) AS BIGINT) AS quality_sum_micro
FROM scored, t
GROUP BY 1
ORDER BY bucket"""


# ======================================================================
# deterministic sketches
# ======================================================================

LC_M = 4096
CM_D, CM_W = 4, 1024
CM_PROBE_MAX = 40


def q_rel_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting distinct sketch vs exact distinct, per event
    type. The sketch state is m=4096 buckets however large the input —
    the fixed-size-summary property that makes sketches the 100 TB
    cardinality tool — and because it hangs off md5 the estimate is
    cross-engine EXACT (unlike engine-native HLLs, which use different
    constants and can never hash-match)."""
    from .operators.sketches import linear_count, md5_bucket

    ev = load_table(spark, sf_dir, "events")
    lc = linear_count(ev, "user_id", group_by=["event_type"], m=LC_M)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        lc.join(exact, "event_type")
        .select(
            "event_type", "n_rows", "occupied", "est_distinct",
            "exact_distinct",
        )
        .orderBy("event_type")
    )


def _duck_bucket(key: str, m: int, salt: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat(CAST({key} AS VARCHAR), "
        f"'{salt}')), 1, 8)) AS BIGINT) % {m}"
    )


def _sql_sketch_distinct() -> str:
    b = _duck_bucket("user_id", LC_M, "lc")
    return f"""
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT {b}) AS BIGINT) AS occupied,
       round(-{LC_M}.0 * ln(({LC_M} - count(DISTINCT {b})) / {LC_M}.0), 6)
         AS est_distinct,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
FROM events
GROUP BY event_type
ORDER BY event_type"""


def q_rel_sketch_cmcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point estimates vs true frequencies for a probe
    set of users. The d×w counter grid is the entire reduced state
    (built by ONE aggregation with map-side combine, mergeable by
    addition); probes join the broadcast grid, never the fact table.
    cm_est ≥ true_n always — the one-sided error the oracle reproduces
    exactly from the same md5 buckets."""
    from .operators.sketches import cm_build, cm_point_estimates

    ev = load_table(spark, sf_dir, "events")
    sketch = cm_build(ev, "user_id", d=CM_D, w=CM_W)
    probes = (
        ev.where(F.col("user_id") < CM_PROBE_MAX)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_n"))
    )
    return (
        cm_point_estimates(sketch, probes, "user_id", d=CM_D, w=CM_W)
        .select("user_id", "true_n", "cm_est")
        .orderBy("user_id")
    )


def _sql_sketch_cmcount() -> str:
    rows = []
    joins = []
    for r in range(CM_D):
        b = _duck_bucket("user_id", CM_W, f"cm{r}")
        rows.append(
            f"s{r} AS (SELECT {b} AS b, CAST(count(*) AS BIGINT) AS c "
            f"FROM events GROUP BY 1)"
        )
        joins.append(
            f"JOIN s{r} ON s{r}.b = "
            + _duck_bucket("p.user_id", CM_W, f"cm{r}")
        )
    return f"""
WITH {', '.join(rows)},
p AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS true_n
  FROM events WHERE user_id < {CM_PROBE_MAX} GROUP BY user_id
)
SELECT p.user_id, p.true_n,
       least({', '.join(f"s{r}.c" for r in range(CM_D))}) AS cm_est
FROM p {' '.join(joins)}
ORDER BY p.user_id"""


def q_rel_sketch_cm_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch ERROR AUDIT over the full key universe — the
    acceptance test a sketch deployment runs before trusting estimates:
    join every key's true frequency against its estimate and aggregate
    the error profile. Checks the one-sided guarantee structurally
    (``n_underest`` must be 0 — an estimate below truth would mean the
    sketch is broken) and quantifies collision cost (max / total
    overestimate), all as exact integers.

    Plan: the d×w grid is one aggregation (see cm_build); the audit is
    the per-key estimate join (broadcast grid) + ONE global aggregate —
    fact-table work is O(distinct keys) beyond the original count."""
    from .operators.sketches import cm_build, cm_point_estimates

    ev = load_table(spark, sf_dir, "events")
    sketch = cm_build(ev, "user_id", d=CM_D, w=CM_W)
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_n"))
    est = cm_point_estimates(sketch, truth, "user_id", d=CM_D, w=CM_W)
    return est.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(
            F.when(F.col("cm_est") == F.col("true_n"), 1).otherwise(0)
            .cast("long")
        ).alias("n_exact"),
        F.sum(
            F.when(F.col("cm_est") < F.col("true_n"), 1).otherwise(0)
            .cast("long")
        ).alias("n_underest"),
        F.max(F.col("cm_est") - F.col("true_n")).alias("max_overest"),
        F.sum(F.col("cm_est") - F.col("true_n")).alias("total_overest"),
    )


def _sql_sketch_cm_error() -> str:
    rows = []
    joins = []
    for r in range(CM_D):
        b = _duck_bucket("user_id", CM_W, f"cm{r}")
        rows.append(
            f"s{r} AS (SELECT {b} AS b, CAST(count(*) AS BIGINT) AS c "
            f"FROM events GROUP BY 1)"
        )
        joins.append(
            f"JOIN s{r} ON s{r}.b = "
            + _duck_bucket("p.user_id", CM_W, f"cm{r}")
        )
    return f"""
WITH {', '.join(rows)},
p AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS true_n
  FROM events GROUP BY user_id
),
est AS (
  SELECT p.user_id, p.true_n,
         least({', '.join(f"s{r}.c" for r in range(CM_D))}) AS cm_est
  FROM p {' '.join(joins)}
)
SELECT count(*) AS n_keys,
       CAST(sum(CASE WHEN cm_est = true_n THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact,
       CAST(sum(CASE WHEN cm_est < true_n THEN 1 ELSE 0 END) AS BIGINT)
         AS n_underest,
       CAST(max(cm_est - true_n) AS BIGINT) AS max_overest,
       CAST(sum(cm_est - true_n) AS BIGINT) AS total_overest
FROM est"""


# ======================================================================
# join-strategy breadth: shuffled hash join
# ======================================================================


def q_rel_shj_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffled-hash-join gate: the third join strategy next to the
    broadcast and sort-merge evidence elsewhere in the registry. SHJ is
    the right physical choice when both sides are too big to broadcast
    but the build side fits per-partition memory — it skips SMJ's two
    sorts. The hint pins the strategy (plan-asserted in
    tests/test_llm_ops.py); results are strategy-invariant, which is
    what the oracle checks."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("long").alias("rev_cents"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return (
        li.join(o.hint("shuffle_hash"), li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("rev_cents").alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


_SQL_SHJ_JOIN = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


# ======================================================================
# incremental aggregate maintenance (IVM)
# ======================================================================

IVM_SPLIT = "2000-01-01"


def q_rel_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a materialized monthly-revenue
    aggregate is refreshed with a change batch — new arrivals PLUS
    retractions as negative deltas — via ``cdc.incremental_agg_merge``,
    WITHOUT rescanning base facts. The refresh touches
    group-cardinality rows only (the 100 TB property: maintenance cost
    scales with the view, not the warehouse). The oracle recomputes the
    view from scratch over the logically-equivalent final fact set —
    merged must equal recomputed exactly."""
    from .operators.cdc import incremental_agg_merge

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        F.col("o_orderdate").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    split = F.lit(IVM_SPLIT).cast("timestamp")
    keys = ["o_orderpriority", "month"]

    def agg(df, sign=1):
        return df.groupBy(*keys).agg(
            (F.count(F.lit(1)) * sign).alias("n_orders"),
            (F.sum("cents") * sign).alias("revenue_cents"),
        )

    base_agg = agg(o.where(F.col("d") < split))
    arrivals = agg(o.where(F.col("d") >= split))
    retractions = agg(
        o.where((F.col("d") < split) & (F.col("o_orderkey") % 100 == 0)),
        sign=-1,
    )
    delta = (
        arrivals.unionByName(retractions)
        .groupBy(*keys)
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )
    return incremental_agg_merge(
        base_agg, delta, keys, ["n_orders", "revenue_cents"]
    ).orderBy(*keys)


_SQL_INCREMENTAL_AGG = f"""
SELECT o_orderpriority,
       strftime(o_orderdate, '%Y-%m') AS month,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
WHERE NOT (o_orderdate < TIMESTAMP '{IVM_SPLIT}' AND o_orderkey % 100 = 0)
GROUP BY 1, 2
ORDER BY 1, 2
"""


# ======================================================================
# streaming CDC apply
# ======================================================================


def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized MERGE: the events feed becomes a change
    stream (upsert per event, periodic deletes; version = event_id),
    folded into a live keyed table inside ``foreachBatch``
    (streaming/rolling.stream_apply_changes — tombstone-retaining
    latest-wins, ONE keyed shuffle per batch). On a closed availableNow
    drain the table must equal the batch latest-wins query — the
    oracle."""
    from .sources.tables import configure
    from .streaming.rolling import drain, file_stream, stream_apply_changes

    configure(spark)

    # highest-version-wins merge with retained tombstones: chop-
    # independent by construction, ANY key re-chop drains equal
    stream = file_stream(spark, sf_dir, "events", key_col="event_id")
    changes = stream.select(
        F.col("user_id"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.col("event_id").alias("_version"),
        F.when(F.col("event_id") % 23 == 0, F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("_op"),
    )
    name = "stream_cdc_state"
    state = drain(spark, name, lambda: stream_apply_changes(
        changes,
        value_cols=["value_cents"],
        keys=["user_id"],
        query_name=name,
    ))
    return state.orderBy("user_id")


_SQL_STREAM_CDC = """
WITH ranked AS (
  SELECT user_id,
         CAST(round(value * 100) AS BIGINT) AS value_cents,
         CASE WHEN event_id % 23 = 0 THEN 'D' ELSE 'U' END AS op,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC)
           AS rn
  FROM events
)
SELECT user_id, value_cents
FROM ranked WHERE rn = 1 AND op <> 'D'
ORDER BY user_id
"""


# ======================================================================
# data-quality guardrails: PSI drift + declarative checks
# ======================================================================

PSI_BINS = [5.0, 20.0, 50.0, 100.0, 200.0]
PSI_BASE = "2024-01-01"
PSI_EPS = 1e-6


def q_rel_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift of the events value
    distribution, every day vs the first day — the per-batch
    distribution monitor a production feature pipeline runs. Fixed bin
    edges (comparability across runs), one counting aggregate, PSI
    terms quantized to nano-units before the sum (partition-order
    independent, engine-exact)."""
    from .operators.quality import psi_drift

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    return psi_drift(
        ev, "value", "day", PSI_BASE, PSI_BINS
    ).orderBy("period")


def _sql_psi_drift() -> str:
    k = len(PSI_BINS)
    case = "CASE " + " ".join(
        f"WHEN value <= {e} THEN {i}" for i, e in enumerate(PSI_BINS)
    ) + f" ELSE {k} END"
    return f"""
WITH binned AS (
  SELECT strftime(ts, '%Y-%m-%d') AS period, {case} AS bin
  FROM events WHERE value IS NOT NULL
),
counts AS (
  SELECT period, bin, CAST(count(*) AS BIGINT) AS c
  FROM binned GROUP BY 1, 2
),
base AS (
  SELECT bin, c AS c_base FROM counts WHERE period = '{PSI_BASE}'
),
tb AS (SELECT CAST(sum(c_base) AS BIGINT) AS n_base FROM base),
tc AS (
  SELECT period, CAST(sum(c) AS BIGINT) AS n_curr
  FROM counts WHERE period <> '{PSI_BASE}' GROUP BY 1
),
grid AS (
  SELECT period, n_curr, unnest(range(0, {k + 1})) AS bin FROM tc
),
t AS (
  SELECT g.period, tb.n_base, g.n_curr,
         CAST(round(
           ((CAST(coalesce(c.c, 0) AS DOUBLE) / g.n_curr + {PSI_EPS})
            - (CAST(coalesce(b.c_base, 0) AS DOUBLE) / tb.n_base
               + {PSI_EPS}))
           * ln((CAST(coalesce(c.c, 0) AS DOUBLE) / g.n_curr + {PSI_EPS})
                / (CAST(coalesce(b.c_base, 0) AS DOUBLE) / tb.n_base
                   + {PSI_EPS}))
           * 1000000000.0) AS BIGINT) AS t_nano
  FROM grid g
  LEFT JOIN counts c ON c.period = g.period AND c.bin = g.bin
  LEFT JOIN base b ON b.bin = g.bin, tb
)
SELECT period, n_base, n_curr,
       CAST(sum(t_nano) AS BIGINT) / 1000000000.0 AS psi
FROM t GROUP BY 1, 2, 3
ORDER BY period"""


def q_rel_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit over orders: all expectations
    fold into ONE aggregation pass (a conditional sum per check — a
    petabyte audit costs one scan), violations reported per check in
    ppm. NULL predicate = violation, matching the oracle's CASE."""
    from .operators.quality import DQCheck, dq_checks

    o = load_table(spark, sf_dir, "orders")
    checks = [
        DQCheck("custkey_not_null", F.col("o_custkey").isNotNull()),
        DQCheck("price_positive", F.col("o_totalprice") > 0),
        DQCheck("price_below_cap", F.col("o_totalprice") <= 300000),
        DQCheck(
            "priority_is_top3", F.col("o_orderpriority").rlike("^[1-3]")
        ),
        DQCheck(
            "date_in_range",
            (F.col("o_orderdate") >= F.lit("1990-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2005-01-01").cast("timestamp")),
        ),
    ]
    return (
        dq_checks(o, checks)
        .select(
            F.col("check").alias("check_name"),
            "n_rows",
            "n_violations",
            "violation_ppm",
        )
        .orderBy("check_name")
    )


_SQL_DQ_CHECKS = """
WITH w AS (
  SELECT CAST(count(*) AS BIGINT) AS n_rows,
    CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END)
         AS BIGINT) AS v_custkey_not_null,
    CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)
         AS BIGINT) AS v_price_positive,
    CAST(sum(CASE WHEN o_totalprice <= 300000 THEN 0 ELSE 1 END)
         AS BIGINT) AS v_price_below_cap,
    CAST(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-3]')
             THEN 0 ELSE 1 END) AS BIGINT) AS v_priority_is_top3,
    CAST(sum(CASE WHEN o_orderdate >= TIMESTAMP '1990-01-01'
                   AND o_orderdate < TIMESTAMP '2005-01-01'
             THEN 0 ELSE 1 END) AS BIGINT) AS v_date_in_range
  FROM orders
)
SELECT check_name, n_rows, n_violations,
       round(n_violations * 1000000 / n_rows, 2) AS violation_ppm
FROM (
  SELECT 'custkey_not_null' AS check_name, n_rows,
         v_custkey_not_null AS n_violations FROM w
  UNION ALL
  SELECT 'price_positive', n_rows, v_price_positive FROM w
  UNION ALL
  SELECT 'price_below_cap', n_rows, v_price_below_cap FROM w
  UNION ALL
  SELECT 'priority_is_top3', n_rows, v_priority_is_top3 FROM w
  UNION ALL
  SELECT 'date_in_range', n_rows, v_date_in_range FROM w
)
ORDER BY check_name
"""


# ======================================================================
# product analytics: funnel, retention cohorts, band join
# ======================================================================

FUNNEL_STEPS = ["view", "click", "purchase"]


def q_rel_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel completion (view → click → purchase, each step
    strictly after the previous): per-step distinct-user counts.

    Shape: one conditional-min aggregate per step, each group-
    cardinality sized and broadcast back for the next step's time
    constraint — the fact table is scanned once per step with no
    self-join blowup (the naive pairwise self-join is quadratic in
    events-per-user; this is linear)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    t1 = ev.where(F.col("event_type") == FUNNEL_STEPS[0]).groupBy(
        "user_id"
    ).agg(F.min("ts").alias("t1"))
    t2 = (
        ev.where(F.col("event_type") == FUNNEL_STEPS[1])
        .join(F.broadcast(t1), "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.where(F.col("event_type") == FUNNEL_STEPS[2])
        .join(F.broadcast(t2), "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    rows = [
        t1.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("1_" + FUNNEL_STEPS[0]).alias("step"), "n_users"
        ),
        t2.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("2_" + FUNNEL_STEPS[1]).alias("step"), "n_users"
        ),
        t3.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit("3_" + FUNNEL_STEPS[2]).alias("step"), "n_users"
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("step")


_SQL_FUNNEL = f"""
WITH t1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = '{FUNNEL_STEPS[0]}' GROUP BY user_id
),
t2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[1]}' AND e.ts > t1.t1
  GROUP BY e.user_id
),
t3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = '{FUNNEL_STEPS[2]}' AND e.ts > t2.t2
  GROUP BY e.user_id
)
SELECT step, n_users FROM (
  SELECT '1_{FUNNEL_STEPS[0]}' AS step,
         CAST(count(*) AS BIGINT) AS n_users FROM t1
  UNION ALL
  SELECT '2_{FUNNEL_STEPS[1]}', CAST(count(*) AS BIGINT) FROM t2
  UNION ALL
  SELECT '3_{FUNNEL_STEPS[2]}', CAST(count(*) AS BIGINT) FROM t3
) ORDER BY step
"""

RETENTION_MAX_OFFSET = 7


def q_rel_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    distinct-user counts at each day offset ≤ 7. Two aggregates (cohort
    assignment is group-cardinality, broadcast back onto activity
    days); the classic warehouse triangle query."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    act = ev.distinct()
    return (
        act.join(F.broadcast(cohort), "user_id")
        .withColumn("offset", F.datediff("day", "cohort_day"))
        .where(F.col("offset") <= RETENTION_MAX_OFFSET)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.col("offset").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


_SQL_RETENTION = f"""
WITH act AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
cohort AS (
  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id
)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       CAST(datediff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
FROM act a JOIN cohort c ON a.user_id = c.user_id
WHERE datediff('day', c.cohort_day, a.day) <= {RETENTION_MAX_OFFSET}
GROUP BY 1, 2
ORDER BY 1, 2
"""

BAND_CENTS = 50


def q_rel_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded inequality join — pairs of same-type events whose values
    differ by ≤ 0.50 — lowered to an EQUI-join by bucket expansion: one
    side explodes to its bucket ± 1 (band width = bucket width, so
    every qualifying pair shares exactly one candidate bucket), the
    join runs as a plain hash join on (type, bucket), and the exact
    band predicate re-verifies. This is the standard trick that keeps
    range/band joins off BroadcastNestedLoop at any scale; per-pair
    work is O(bucket occupancy), not O(n²).

    The probe side is a deterministic ~1% subset: an all-pairs band
    join over a dense uniform distribution has inherently quadratic
    OUTPUT (10× rows ⇒ 100× pairs — no plan beats its own result
    size), so the gate exercises the radius-lookup form real band-join
    workloads use; the bucket lowering is identical for all-pairs."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).where(F.col("cents").isNotNull())
    b = F.floor(F.col("cents") / BAND_CENTS).cast("long")
    left = ev.where(F.col("event_id") % 101 == 0).select(
        F.col("event_id").alias("id_a"),
        F.col("event_type"),
        F.col("cents").alias("ca"),
        F.explode(
            F.array(b - 1, b, b + 1)
        ).alias("bk"),
    )
    right = ev.select(
        F.col("event_id").alias("id_b"),
        F.col("event_type"),
        F.col("cents").alias("cb"),
        b.alias("bk"),
    )
    return (
        left.join(right, ["event_type", "bk"])
        .where(
            (F.col("id_a") != F.col("id_b"))
            & (F.abs(F.col("ca") - F.col("cb")) <= BAND_CENTS)
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.abs(F.col("ca") - F.col("cb"))).alias("sum_gap_cents"),
        )
        .orderBy("event_type")
    )


_SQL_BAND_JOIN = f"""
WITH ev AS (
  SELECT event_id, event_type,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
)
SELECT a.event_type,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs(a.cents - b.cents)) AS BIGINT) AS sum_gap_cents
FROM (SELECT * FROM ev WHERE event_id % 101 = 0) a JOIN ev b
  ON a.event_type = b.event_type
 AND a.event_id <> b.event_id
 AND abs(a.cents - b.cents) <= {BAND_CENTS}
GROUP BY a.event_type
ORDER BY a.event_type
"""


# ======================================================================
# streaming IVM, weighted sampling, z-score outliers
# ======================================================================


def q_stream_ivm_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance: the events feed keeps a
    per-(type, day) aggregate view fresh via per-batch delta merge
    (streaming/rolling.stream_incremental_agg ∘ cdc.incremental_agg_
    merge). Additive measures ⇒ the view is independent of micro-batch
    chopping; on a closed drain it must equal the batch aggregate —
    the oracle. Per-batch cost is group-cardinality, never history."""
    from .sources.tables import configure
    from .streaming.rolling import drain, file_stream, stream_incremental_agg

    configure(spark)

    # additive delta-merge view: ANY key re-chop drains equal
    stream = file_stream(spark, sf_dir, "events", key_col="event_id")
    changes = stream.select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.coalesce(F.round(F.col("value") * 100).cast("long"), F.lit(0))
        .alias("cents"),
    )
    name = "stream_ivm_view"
    view = drain(spark, name, lambda: stream_incremental_agg(
        changes,
        keys=["event_type", "day"],
        sum_exprs={
            "n_events": F.count(F.lit(1)),
            "sum_cents": F.sum("cents"),
        },
        query_name=name,
    ))
    return view.orderBy("event_type", "day")


_SQL_STREAM_IVM = """
SELECT event_type,
       strftime(ts, '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(coalesce(CAST(round(value * 100) AS BIGINT), 0))
            AS BIGINT) AS sum_cents
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""

WS_FULL_CHARS = 300


def q_pipe_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional weighted Bernoulli sampling of the corpus
    (keep probability min(1, n_chars/300)) — integer-exact md5
    thresholding, zero shuffles except the per-source audit rollup."""
    from .operators.sampling import weighted_hash_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = weighted_hash_sample(
        docs, "doc_id", "n_chars", WS_FULL_CHARS, salt="ws"
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").alias("kept_chars"),
        )
        .orderBy("source")
    )


def _sql_weighted_sample() -> str:
    from .operators.sampling import duckdb_hash_bucket

    hb = duckdb_hash_bucket("doc_id", salt="ws")
    return f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(n_chars) AS BIGINT) AS kept_chars
FROM documents
WHERE ({hb}) * {WS_FULL_CHARS} < n_chars * 10000
GROUP BY source
ORDER BY source"""


ZS_THRESHOLD = 3.0


def q_rel_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection on event values: ONE moment
    aggregate (n, Σ, Σ²) per type broadcast back, outliers flagged by a
    codegen filter. Every float is computed by the identical IEEE
    +,-,*,/,sqrt expression over exact integer moments on both engines
    (correctly-rounded ops ⇒ bit-identical), so even the boundary
    comparisons are engine-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).where(F.col("cents").isNotNull())
    mom = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    std = F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
    )
    flagged = (
        ev.join(F.broadcast(mom), "event_type")
        .withColumn(
            "_is_out",
            F.abs(F.col("cents").cast("double") - mean)
            > F.lit(ZS_THRESHOLD) * std,
        )
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("_is_out").cast("long")).alias("n_outliers"),
            F.max(F.when(F.col("_is_out"), F.col("cents"))).alias(
                "max_outlier_cents"
            ),
        )
        .orderBy("event_type")
    )


_SQL_OUTLIER_Z = f"""
WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
),
mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(cents) AS BIGINT) AS s,
         CAST(sum(cents * cents) AS BIGINT) AS ss
  FROM ev GROUP BY event_type
),
f AS (
  SELECT ev.event_type, ev.cents,
         abs(CAST(ev.cents AS DOUBLE) - CAST(m.s AS DOUBLE) / m.n)
           > {ZS_THRESHOLD} * sqrt(
               (CAST(m.ss AS DOUBLE) - CAST(m.s AS DOUBLE) * m.s / m.n)
               / (m.n - 1)) AS is_out
  FROM ev JOIN mom m ON ev.event_type = m.event_type
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       max(CASE WHEN is_out THEN cents END) AS max_outlier_cents
FROM f
GROUP BY event_type
ORDER BY event_type
"""


# ======================================================================
# interval sweep-line, triangle counting, bloom membership
# ======================================================================


def q_rel_concurrency_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent intervals per event type via the sweep line:
    each event opens an interval (ts, ts + 1..60 min); +1/−1 deltas
    sorted per type with a running sum give the concurrency curve —
    ONE keyed window (per-type partitions sort in parallel), no
    self-join of intervals (the naive overlap join is quadratic). Ends
    sort before starts at equal timestamps (half-open intervals), and
    the max of the running sum is tie-order independent."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts"),
        (
            F.col("ts")
            + F.make_dt_interval(
                mins=(F.floor("value").cast("int") % 60 + 1).cast("int")
            )
        ).alias("te"),
    )
    sweep = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        ev.select(
            "event_type", F.col("te").alias("t"), F.lit(-1).alias("delta")
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        sweep.withColumn("running", F.sum("delta").over(w))
        .groupBy("event_type")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_intervals"),
            F.max("running").cast("long").alias("max_concurrent"),
        )
        .orderBy("event_type")
    )


_SQL_CONCURRENCY = """
WITH iv AS (
  SELECT event_type, ts,
         ts + to_minutes(CAST(floor(value) AS INT) % 60 + 1) AS te
  FROM events
),
sweep AS (
  SELECT event_type, ts AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT event_type, te AS t, -1 AS delta FROM iv
),
run AS (
  SELECT event_type,
         sum(delta) OVER (
           PARTITION BY event_type ORDER BY t, delta
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS running
  FROM sweep
)
SELECT event_type,
       CAST(count(*) / 2 AS BIGINT) AS n_intervals,
       CAST(max(running) AS BIGINT) AS max_concurrent
FROM run
GROUP BY event_type
ORDER BY event_type
"""


def q_rel_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed triangle counting on the user co-occurrence graph
    (edge = two users active in the same (day, hour, type) slot). The
    canonical ordered-wedge algorithm: every edge stored once as
    (a < b); wedges join edges on the middle vertex with a < b < c, and
    a second equi-join closes them — all plain hash joins, no
    enumeration of per-vertex neighborhoods on the driver. At scale the
    standard degree-ordering refinement bounds wedge counts by
    arboricity; the join SHAPE is identical.

    The gate slices to one day and a deterministic 1/7 user subset:
    co-occurrence over the full uniform synthetic stream saturates
    toward a complete graph, whose Θ(n·d²) wedge set is an output-size
    property no plan can beat (real co-occurrence graphs are sparse;
    dense ones call for the DOULION edge-sampling estimator)."""
    ev = load_table(spark, sf_dir, "events").where(
        (F.date_format("ts", "yyyy-MM-dd") == "2024-01-15")
        & (F.col("user_id") % 7 == 0)
    ).select(
        F.col("user_id"),
        F.date_format("ts", "yyyy-MM-dd-HH").alias("slot"),
        "event_type",
    ).distinct()
    a = ev.alias("x")
    b = ev.alias("y")
    edges = (
        a.join(
            b,
            (F.col("x.slot") == F.col("y.slot"))
            & (F.col("x.event_type") == F.col("y.event_type"))
            & (F.col("x.user_id") < F.col("y.user_id")),
        )
        .select(
            F.col("x.user_id").alias("a"), F.col("y.user_id").alias("b")
        )
        .distinct()
    )
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    wedges = e1.join(
        e2,
        (F.col("e1.b") == F.col("e2.a")),
    ).select(
        F.col("e1.a").alias("wa"),
        F.col("e1.b").alias("wb"),
        F.col("e2.b").alias("wc"),
    )
    tri = wedges.join(
        e3,
        (F.col("wa") == F.col("e3.a")) & (F.col("wc") == F.col("e3.b")),
    )
    nodes = edges.select(F.col("a").alias("n")).unionByName(
        edges.select(F.col("b").alias("n"))
    ).distinct()
    return (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(
            F.broadcast(edges.agg(F.count(F.lit(1)).alias("n_edges")))
        )
        .crossJoin(
            F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
        )
        .select("n_nodes", "n_edges", "n_triangles")
    )


_SQL_TRIANGLES = """
WITH act AS (
  SELECT DISTINCT user_id, strftime(ts, '%Y-%m-%d-%H') AS slot,
         event_type
  FROM events
  WHERE strftime(ts, '%Y-%m-%d') = '2024-01-15' AND user_id % 7 = 0
),
edges AS (
  SELECT DISTINCT x.user_id AS a, y.user_id AS b
  FROM act x JOIN act y
    ON x.slot = y.slot AND x.event_type = y.event_type
   AND x.user_id < y.user_id
),
nodes AS (
  SELECT DISTINCT n FROM (
    SELECT a AS n FROM edges UNION ALL SELECT b FROM edges
  )
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM nodes) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM edges) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT)
        FROM edges e1
        JOIN edges e2 ON e1.b = e2.a
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
"""

BF_M, BF_K = 4096, 3


def q_rel_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class Bloom-filter semi-join: a ≤ m-row filter built from
    one side's keys (customers in nations ≡ 0 mod 5) probes the orders
    fact — the probe side NEVER shuffles (k broadcast position joins),
    which is why shipping a bloom beats shipping the key set at 100 TB.
    Reports the false-positive accounting against the exact semi-join;
    zero false negatives is structural."""
    from .operators.sketches import bloom_build, bloom_probe

    c = load_table(spark, sf_dir, "customer")
    keys = c.where(F.col("c_nationkey") % 5 == 0).select("c_custkey")
    positions = bloom_build(keys, "c_custkey", m=BF_M, k=BF_K)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    probed = bloom_probe(o, positions, "o_custkey", m=BF_M, k=BF_K)
    truth = keys.select(
        F.col("c_custkey").alias("o_custkey"), F.lit(True).alias("_true")
    ).distinct()
    return (
        probed.join(F.broadcast(truth), "o_custkey", "left")
        .select(
            F.col("bloom_hit"),
            F.coalesce("_true", F.lit(False)).alias("is_member"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_pos"),
            F.sum(F.col("is_member").cast("long")).alias("n_true_pos"),
            F.sum(
                (F.col("bloom_hit") & ~F.col("is_member")).cast("long")
            ).alias("n_false_pos"),
            F.sum(
                (~F.col("bloom_hit") & F.col("is_member")).cast("long")
            ).alias("n_false_neg"),
        )
    )


def _sql_bloom_membership() -> str:
    def bpos(expr: str, i: int) -> str:
        return (
            f"CAST(concat('0x', substr(md5(concat(CAST({expr} AS VARCHAR),"
            f" 'bf{i}')), 1, 8)) AS BIGINT) % {BF_M}"
        )

    pos_union = "\n    UNION\n".join(
        f"    SELECT {bpos('c_custkey', i)} AS pos FROM ks"
        for i in range(BF_K)
    )
    hit = " AND ".join(
        f"({bpos('o_custkey', i)}) IN (SELECT pos FROM posset)"
        for i in range(BF_K)
    )
    return f"""
WITH ks AS (
  SELECT c_custkey FROM customer WHERE c_nationkey % 5 = 0
),
posset AS (
{pos_union}
),
probed AS (
  SELECT o_orderkey,
         ({hit}) AS bloom_hit,
         o_custkey IN (SELECT c_custkey FROM ks) AS is_member
  FROM orders
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_pos,
       CAST(sum(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
         AS n_true_pos,
       CAST(sum(CASE WHEN bloom_hit AND NOT is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       CAST(sum(CASE WHEN NOT bloom_hit AND is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_neg
FROM probed
"""


# ======================================================================
# sink behavior gates: dynamic partition overwrite, schema evolution
# ======================================================================


def _sink_dir(leaf: str) -> str:
    import os

    return os.path.join(os.getcwd(), "spark-warehouse", "sinks", leaf)


def q_src_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill write
    every partitioned warehouse relies on: rewriting ONE partition's
    data must leave sibling partitions untouched (static overwrite
    would truncate the whole table). The gate writes orders partitioned
    by status, re-writes only 'F' with corrected prices, and the final
    table must equal the oracle's CASE-corrected view — proving both
    the selective overwrite AND the siblings' survival."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    path = _sink_dir("dyn_overwrite")
    o.write.mode("overwrite").partitionBy("status").parquet(path)
    corrected = o.where(F.col("status") == "F").withColumn(
        "cents", F.col("cents") + 111
    )
    with _dyn_overwrite(spark):
        corrected.write.mode("overwrite").partitionBy("status").parquet(
            path
        )
    back = spark.read.parquet(path)
    return back.groupBy("status").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
    ).orderBy("status")


def _dyn_overwrite(spark: SparkSession):
    from contextlib import contextmanager

    @contextmanager
    def cm():
        key = "spark.sql.sources.partitionOverwriteMode"
        old = spark.conf.get(key, "static")
        spark.conf.set(key, "dynamic")
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return cm()


_SQL_DYN_OVERWRITE = """
SELECT o_orderstatus AS status,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)
                + CASE WHEN o_orderstatus = 'F' THEN 111 ELSE 0 END)
            AS BIGINT) AS sum_cents
FROM orders
GROUP BY 1
ORDER BY 1
"""


def q_src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two batches land with different schemas
    (v2 adds a column), ``mergeSchema`` reconciles them and the missing
    column reads as NULL for v1 rows — the append-only evolution
    contract of a long-lived parquet dataset. (At 100 TB, pin the merged
    schema explicitly instead of paying schema inference over every
    footer; the per-file column-absence semantics are identical.)"""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    path = _sink_dir("schema_evo")
    v1 = o.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "cents")
    v2 = o.where(F.col("o_orderkey") % 2 == 1)
    v1.write.mode("overwrite").parquet(path + "/v1")
    v2.write.mode("overwrite").parquet(path + "/v2")
    back = spark.read.option("mergeSchema", True).parquet(
        path + "/v1", path + "/v2"
    )
    return back.groupBy(
        F.coalesce(F.col("prio"), F.lit("<v1>")).alias("prio")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
    ).orderBy("prio")


_SQL_SCHEMA_EVO = """
SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<v1>' ELSE o_orderpriority END
         AS prio,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM orders
GROUP BY 1
ORDER BY 1
"""


# ======================================================================
# sequence patterns, int8 quantization, langid confusion
# ======================================================================

SEQ_PATTERN = ["view", "click", "purchase"]


def q_rel_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style consecutive-pattern search: per user, the
    time-ordered event-type sequence is scanned for the adjacent run
    view→click→purchase. One keyed collect (sort inside the aggregate,
    not a global sort) and a codegen array scan — per-user state is the
    user's own history, embarrassingly parallel across users."""
    ev = load_table(spark, sf_dir, "events")
    seqs = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", "event_type")
                )
            ),
            lambda s: s["event_type"],
        ).alias("types")
    )
    k = len(SEQ_PATTERN)
    match_at = lambda s, i: (
        (F.element_at(s, i) == SEQ_PATTERN[0])
        & (F.element_at(s, i + 1) == SEQ_PATTERN[1])
        & (F.element_at(s, i + 2) == SEQ_PATTERN[2])
    )
    n_matches = F.size(
        F.filter(
            F.sequence(F.lit(1), F.greatest(F.size("types") - (k - 1), F.lit(0))),
            lambda i: match_at(F.col("types"), i),
        )
    )
    per_user = seqs.select(
        "user_id", n_matches.cast("long").alias("n_matches")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum((F.col("n_matches") > 0).cast("long")).alias(
            "n_users_matched"
        ),
        F.sum("n_matches").alias("n_matches"),
    )


_SQL_SEQ_PATTERN = f"""
WITH seqs AS (
  SELECT user_id,
         list(event_type ORDER BY ts, event_id, event_type) AS types
  FROM events GROUP BY user_id
),
per_user AS (
  SELECT user_id,
         CAST(len(list_filter(
           range(1, greatest(len(types) - 2, 0) + 1),
           i -> types[i] = '{SEQ_PATTERN[0]}'
                AND types[i + 1] = '{SEQ_PATTERN[1]}'
                AND types[i + 2] = '{SEQ_PATTERN[2]}')) AS BIGINT)
           AS n_matches
  FROM seqs
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN n_matches > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_users_matched,
       CAST(sum(n_matches) AS BIGINT) AS n_matches
FROM per_user
"""


def q_emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus — the memory-
    layout step a vector index applies before ANN serving (4× smaller
    vectors, ADC-compatible codes). Per-dimension [min, max] comes from
    ONE 64-row aggregate broadcast back; codes and reconstruction
    error are identical IEEE expressions over the same floats on both
    engines, with the error micro-quantized before summation."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "j", "x"
        ),
    )
    bounds = vals.groupBy("j").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    joined = vals.join(F.broadcast(bounds), "j")
    span = F.col("hi") - F.col("lo")
    code = F.when(span > 0,
        F.round((F.col("x") - F.col("lo")) / span * 255)
    ).otherwise(F.lit(0.0)).cast("long")
    recon = F.col("lo") + code.cast("double") / 255 * span
    err_micro = F.round(F.abs(F.col("x") - recon) * 1000000).cast("long")
    return (
        joined.select("vec_id", "label", code.alias("c"),
                      err_micro.alias("e"))
        .groupBy("label")
        .agg(
            F.countDistinct("vec_id").alias("n_vecs"),
            F.sum("c").alias("sum_codes"),
            F.sum("e").alias("sum_abs_err_micro"),
        )
        .orderBy("label")
    )


_SQL_EMB_INT8 = """
WITH vals AS (
  SELECT vec_id, label,
         UNNEST(range(1, len(embedding) + 1)) AS j,
         UNNEST(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
bounds AS (
  SELECT j, min(x) AS lo, max(x) AS hi FROM vals GROUP BY j
),
coded AS (
  SELECT v.vec_id, v.label,
         CASE WHEN b.hi - b.lo > 0
              THEN CAST(round((v.x - b.lo) / (b.hi - b.lo) * 255)
                        AS BIGINT)
              ELSE 0 END AS c,
         v.x, b.lo, b.hi
  FROM vals v JOIN bounds b ON v.j = b.j
),
errs AS (
  SELECT vec_id, label, c,
         CAST(round(abs(x - (lo + CAST(c AS DOUBLE) / 255
                              * (hi - lo))) * 1000000) AS BIGINT) AS e
  FROM coded
)
SELECT label,
       CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
       CAST(sum(c) AS BIGINT) AS sum_codes,
       CAST(sum(e) AS BIGINT) AS sum_abs_err_micro
FROM errs
GROUP BY label
ORDER BY label
"""


def q_text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: confusion matrix of the stopword-vote
    heuristic against the gold ``lang`` labels — the audit loop any
    production classifier runs. Narrow codegen scoring + one tiny
    (gold, pred) rollup."""
    from .operators.text import language_id

    docs = load_table(spark, sf_dir, "documents")
    pred = language_id(docs)
    return (
        pred.groupBy(
            F.col("lang").alias("gold"),
            F.col("pred_lang").alias("pred"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("gold", "pred")
    )


def _sql_langid_confusion() -> str:
    from .operators.text import STOPWORDS

    langs = sorted(STOPWORDS)
    score = {
        lang: (
            "len(list_filter(string_split(lower(text), ' '), "
            "t -> t IN (%s)))"
            % ", ".join("'%s'" % w for w in STOPWORDS[lang])
        )
        for lang in langs
    }
    scores_sql = ",\n         ".join(
        f"{score[lang]} AS s_{lang}" for lang in langs
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = (
        "CASE WHEN " + best + " = 0 THEN 'und' "
        + " ".join(
            f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs
        )
        + " END"
    )
    return f"""
WITH scored AS (
  SELECT lang,
         {scores_sql}
  FROM documents
)
SELECT lang AS gold, {case} AS pred, CAST(count(*) AS BIGINT) AS n
FROM scored
GROUP BY 1, 2
ORDER BY gold, pred
"""


# ======================================================================
# nearest as-of, bigram LM, embedding drift
# ======================================================================

ASOF_NEAR_TOL = 7200.0


def q_rel_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join (ties → backward) within a
    tolerance: each click attaches its closest purchase by the same
    user. Composed from one backward and one forward merge pass (the
    union + ordered-window as-of, never a theta join); the gap compare
    is exact integer microseconds. Per-user match accounting is the
    hash-gated output."""
    from .operators.timeseries import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("rid"),
        "user_id",
        F.col("ts").alias("bts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    joined = asof_join(
        clicks,
        buys,
        on=["user_id"],
        left_ts="ts",
        right_ts="bts",
        right_cols=["cents"],
        right_order=["rid"],
        tolerance_seconds=ASOF_NEAR_TOL,
        direction="nearest",
    )
    gap = F.abs(
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_bts"))
    )
    return (
        joined.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(F.col("asof_bts").isNotNull().cast("long")).alias(
                "n_matched"
            ),
            F.sum(gap).alias("sum_gap_us"),
            F.sum("asof_cents").alias("matched_cents"),
        )
        .orderBy("user_id")
    )


def _sql_asof_nearest() -> str:
    tol_us = int(ASOF_NEAR_TOL * 1_000_000)
    return f"""
WITH l AS (
  SELECT event_id AS lid, user_id, ts AS lts FROM events
  WHERE event_type = 'click'
),
r AS (
  SELECT event_id AS rid, user_id, ts AS rts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
bc AS (
  SELECT lid, rts, cents FROM (
    SELECT l.lid, r.rts, r.cents,
           row_number() OVER (
             PARTITION BY l.lid ORDER BY r.rts DESC, r.rid DESC
           ) AS rn
    FROM l JOIN r ON l.user_id = r.user_id AND r.rts <= l.lts
     AND epoch_us(l.lts) - epoch_us(r.rts) <= {tol_us}
  ) WHERE rn = 1
),
fc AS (
  SELECT lid, rts, cents FROM (
    SELECT l.lid, r.rts, r.cents,
           row_number() OVER (
             PARTITION BY l.lid ORDER BY r.rts ASC, r.rid ASC
           ) AS rn
    FROM l JOIN r ON l.user_id = r.user_id AND r.rts >= l.lts
     AND epoch_us(r.rts) - epoch_us(l.lts) <= {tol_us}
  ) WHERE rn = 1
),
n AS (
  SELECT l.user_id, l.lts,
         CASE WHEN bc.rts IS NOT NULL AND (fc.rts IS NULL
                OR epoch_us(l.lts) - epoch_us(bc.rts)
                   <= epoch_us(fc.rts) - epoch_us(l.lts))
              THEN bc.rts ELSE fc.rts END AS mts,
         CASE WHEN bc.rts IS NOT NULL AND (fc.rts IS NULL
                OR epoch_us(l.lts) - epoch_us(bc.rts)
                   <= epoch_us(fc.rts) - epoch_us(l.lts))
              THEN bc.cents ELSE fc.cents END AS mcents
  FROM l LEFT JOIN bc ON bc.lid = l.lid
         LEFT JOIN fc ON fc.lid = l.lid
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(sum(CASE WHEN mts IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched,
       CAST(sum(abs(epoch_us(lts) - epoch_us(mts))) AS BIGINT)
         AS sum_gap_us,
       CAST(sum(mcents) AS BIGINT) AS matched_cents
FROM n
GROUP BY user_id
ORDER BY user_id"""


def q_text_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality scores, rolled up per source —
    fluency filtering where word ORDER matters (see
    operators/text.lm_bigram_score for the exact-integer quantization
    contract that makes the fixpoint-free model SQL-replayable)."""
    from .operators.text import lm_bigram_score

    docs = load_table(spark, sf_dir, "documents")
    scored = lm_bigram_score(docs)
    return (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bigrams").alias("n_bigrams"),
            F.sum("logprob_micro").alias("logprob_micro_sum"),
        )
        .orderBy("source")
    )


_SQL_LM_BIGRAM = """
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents
),
pairs AS (
  SELECT doc_id,
         UNNEST(list_transform(range(1, len(ts)), i -> ts[i])) AS w1,
         UNNEST(list_transform(range(1, len(ts)), i -> ts[i + 1])) AS w2
  FROM toks
),
bigrams AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS cb
  FROM pairs GROUP BY w1, w2
),
unigrams AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cu FROM (
    SELECT UNNEST(ts) AS w FROM toks
  ) GROUP BY w
),
tot AS (
  SELECT CAST(sum(cu) AS BIGINT) AS T, CAST(count(*) AS BIGINT) AS V
  FROM unigrams
),
scored AS (
  SELECT p.doc_id,
         CAST(round(ln(
           (0.75 * CAST(b.cb AS DOUBLE)) / u1.cu
           + (0.25 * CAST(u2.cu + 1 AS DOUBLE))
             / CAST(tot.T + tot.V AS DOUBLE)
         ) * 1000000.0) AS BIGINT) AS q
  FROM pairs p
  JOIN bigrams b ON p.w1 = b.w1 AND p.w2 = b.w2
  JOIN unigrams u1 ON p.w1 = u1.w
  JOIN unigrams u2 ON p.w2 = u2.w, tot
)
SELECT d.source,
       CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(s.q) AS BIGINT) AS logprob_micro_sum
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
GROUP BY d.source
ORDER BY d.source
"""


def q_emb_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: cosine similarity between per-label
    centroids of two deterministic corpus halves — the vector-space
    analog of the PSI gate (a drop below ~0.99 flags upstream encoder
    or population drift). Per-dim sums are exact micro-unit integers;
    the three dot products quantize each 64-term product to pico-units
    before summation, so the cosine is a single identical float
    expression on both engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "j", "x"
        ),
    )
    sums = vals.groupBy("label", "half", "j").agg(
        F.sum(F.round(F.col("x") * 1000000).cast("long")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = sums.select(
        "label", "half", "j",
        (F.col("s") / F.lit(1000000.0) / F.col("n")).alias("c"),
        "n",
    )
    c0 = cent.where(F.col("half") == 0).select(
        "label", "j", F.col("c").alias("c0"), F.col("n").alias("n0")
    )
    c1 = cent.where(F.col("half") == 1).select(
        "label", "j", F.col("c").alias("c1"), F.col("n").alias("n1")
    )
    both = c0.join(c1, ["label", "j"])
    pico = lambda e: F.round(e * F.lit(1e12)).cast("long")
    agg = both.groupBy("label").agg(
        F.sum(pico(F.col("c0") * F.col("c1"))).alias("qd"),
        F.sum(pico(F.col("c0") * F.col("c0"))).alias("q0"),
        F.sum(pico(F.col("c1") * F.col("c1"))).alias("q1"),
        F.max("n0").alias("n_half0"),
        F.max("n1").alias("n_half1"),
    )
    cos = (F.col("qd") / F.lit(1e12)) / (
        F.sqrt(F.col("q0") / F.lit(1e12)) * F.sqrt(F.col("q1") / F.lit(1e12))
    )
    return agg.select(
        "label", "n_half0", "n_half1",
        F.round(cos, 6).alias("centroid_cosine"),
    ).orderBy("label")


_SQL_EMB_SHIFT = """
WITH vals AS (
  SELECT label, vec_id % 2 AS half,
         UNNEST(range(1, len(embedding) + 1)) AS j,
         UNNEST(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
sums AS (
  SELECT label, half, j,
         CAST(sum(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM vals GROUP BY label, half, j
),
cent AS (
  SELECT label, half, j, s / 1000000.0 / n AS c, n FROM sums
),
paired AS (
  SELECT a.label, a.j, a.c AS c0, b.c AS c1, a.n AS n0, b.n AS n1
  FROM cent a JOIN cent b
    ON a.label = b.label AND a.j = b.j AND a.half = 0 AND b.half = 1
),
agg AS (
  SELECT label,
         CAST(sum(CAST(round(c0 * c1 * 1e12) AS BIGINT)) AS BIGINT) AS qd,
         CAST(sum(CAST(round(c0 * c0 * 1e12) AS BIGINT)) AS BIGINT) AS q0,
         CAST(sum(CAST(round(c1 * c1 * 1e12) AS BIGINT)) AS BIGINT) AS q1,
         CAST(max(n0) AS BIGINT) AS n_half0,
         CAST(max(n1) AS BIGINT) AS n_half1
  FROM paired GROUP BY label
)
SELECT label, n_half0, n_half1,
       round((qd / 1e12) / (sqrt(q0 / 1e12) * sqrt(q1 / 1e12)), 6)
         AS centroid_cosine
FROM agg
ORDER BY label
"""


# ======================================================================
# grouping metadata, malformed-input handling, NULL semantics
# ======================================================================


def q_rel_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() metadata parity: grouping-sets output where the
    NULL-because-rolled-up rows are distinguished from genuine NULL
    keys by the grouping indicator — the detail every BI layer on top
    of CUBE/ROLLUP depends on."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_gid")
    return spark.sql(
        """
        SELECT grouping(o_orderstatus) AS g_status,
               grouping(o_orderpriority) AS g_prio,
               o_orderstatus AS status,
               o_orderpriority AS prio,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM __orders_gid
        GROUP BY GROUPING SETS (
          (o_orderstatus, o_orderpriority), (o_orderstatus), ()
        )
        ORDER BY g_status, g_prio, status, prio
        """
    ).selectExpr(
        "CAST(g_status AS BIGINT) AS g_status",
        "CAST(g_prio AS BIGINT) AS g_prio",
        "status", "prio", "n", "cents",
    )


_SQL_GROUPING_ID = """
SELECT CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
       CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
       o_orderstatus AS status,
       o_orderpriority AS prio,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS cents
FROM orders
GROUP BY GROUPING SETS (
  (o_orderstatus, o_orderpriority), (o_orderstatus), ()
)
ORDER BY g_status, g_prio, status, prio
"""


def q_src_csv_malformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input handling gate: a CSV lands with a corrupted
    numeric field on a deterministic subset of rows; the PERMISSIVE
    reader must null the broken field, capture the raw line in
    ``_corrupt_record``, and keep every well-formed row intact — the
    contract that lets a 100 TB ingest survive dirty files instead of
    failing the job. Accounting (clean/corrupt counts + surviving sum)
    is the oracle-checked output."""
    import os

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    broken = docs.select(
        F.col("doc_id").cast("string"),
        "source",
        F.when(F.col("doc_id") % 97 == 0, F.lit("xx"))
        .otherwise(F.col("n_chars").cast("string"))
        .alias("n_chars"),
    )
    path = _sink_dir("csv_malformed")
    broken.write.mode("overwrite").option("header", False).csv(path)
    back = (
        spark.read.schema(
            "doc_id long, source string, n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias(
            "n_corrupt"
        ),
        F.sum("n_chars").alias("clean_chars"),
    ).orderBy("source")


_SQL_CSV_MALFORMED = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_corrupt,
       CAST(sum(CASE WHEN doc_id % 97 = 0 THEN NULL ELSE n_chars END)
            AS BIGINT) AS clean_chars
FROM documents
GROUP BY source
ORDER BY source
"""


def q_rel_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued-logic gallery: NULLIF-injected nulls flow through
    COALESCE, null-safe equality (<=> / IS NOT DISTINCT FROM),
    count(*) vs count(col), and conditional aggregation — the NULL
    contract every migrating SQL workload silently depends on."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.nullif(
            F.round(F.col("value") * 100).cast("long"), F.lit(0)
        ).alias("cents"),
        F.nullif(F.col("user_id") % 10, F.lit(3)).alias("udig"),
    )
    return (
        base.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("cents").alias("n_cents_nonnull"),
            F.sum(F.col("cents").isNull().cast("long")).alias(
                "n_cents_null"
            ),
            F.sum(F.coalesce("cents", F.lit(-1))).alias("coalesced_sum"),
            F.sum(
                F.col("udig").eqNullSafe(F.col("cents") % 10).cast("long")
            ).alias("n_nullsafe_eq"),
            F.sum(
                (F.col("udig") == (F.col("cents") % 10)).cast("long")
            ).alias("n_plain_eq"),
        )
        .orderBy("event_type")
    )


_SQL_NULL_SEMANTICS = """
WITH base AS (
  SELECT event_type,
         nullif(CAST(round(value * 100) AS BIGINT), 0) AS cents,
         nullif(user_id % 10, 3) AS udig
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(cents) AS BIGINT) AS n_cents_nonnull,
       CAST(sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cents_null,
       CAST(sum(coalesce(cents, -1)) AS BIGINT) AS coalesced_sum,
       CAST(sum(CASE WHEN udig IS NOT DISTINCT FROM cents % 10
                THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
       CAST(sum(CASE WHEN udig = cents % 10 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_plain_eq
FROM base
GROUP BY event_type
ORDER BY event_type
"""


# ======================================================================
# outer-explode lateral semantics, exact decimal arithmetic
# ======================================================================


def q_rel_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER-explode (lateral) semantics: exploding a possibly-empty
    token array must KEEP the empty-document row with a NULL position —
    the outer-lateral contract that separates 'no elements' from 'row
    vanished'. Per-source accounting distinguishes exploded token rows
    from preserved empty rows."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), " "),
        lambda t: F.length(t) > 0,
    )
    rows = docs.select(
        "source",
        "doc_id",
        F.posexplode_outer(toks).alias("pos", "tok"),
    )
    return (
        rows.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("tok").isNull().cast("long")).alias(
                "n_empty_docs"
            ),
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum(F.coalesce(F.col("pos"), F.lit(-1))).alias("pos_sum"),
        )
        .orderBy("source")
    )


_SQL_EXPLODE_OUTER = """
WITH toks AS (
  SELECT source, doc_id,
         list_filter(string_split(lower(text), ' '),
                     t -> length(t) > 0) AS ts
  FROM documents
),
rows_ AS (
  SELECT t.source, t.doc_id, u.pos, u.tok
  FROM toks t
  LEFT JOIN LATERAL (
    SELECT UNNEST(range(1, len(t.ts) + 1)) - 1 AS pos,
           UNNEST(t.ts) AS tok
  ) u ON TRUE
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_empty_docs,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(coalesce(pos, -1)) AS BIGINT) AS pos_sum
FROM rows_
GROUP BY source
ORDER BY source
"""


def q_rel_decimal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact DECIMAL arithmetic gate: money flows through
    DECIMAL(18,2) sums and scaled multiplication with NO float in the
    path — the penny-exact accounting contract. The result converts to
    integer cents only at the very end, so any engine that rounded
    through binary floats would hash-mismatch."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    # multiplication only: decimal × decimal is EXACT (scale adds) on
    # any conforming engine, whereas decimal division rounds at an
    # engine-chosen scale — the one decimal op that is not portable
    taxed = price * F.lit("1.07").cast("decimal(4,2)")
    return (
        o.select("o_orderstatus", price.alias("p"), taxed.alias("t"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("p") * 100).cast("long").alias("sum_cents"),
            F.sum("t").cast("decimal(38,4)").cast("string")
            .alias("taxed_sum"),
        )
        .orderBy("o_orderstatus")
    )


_SQL_DECIMAL_EXACT = """
WITH d AS (
  SELECT o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         CAST(o_totalprice AS DECIMAL(18,2))
           * CAST('1.07' AS DECIMAL(4,2)) AS t
  FROM orders
)
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(p) * 100 AS BIGINT) AS sum_cents,
       CAST(CAST(sum(t) AS DECIMAL(38,4)) AS VARCHAR) AS taxed_sum
FROM d
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


# ======================================================================
# dataset card
# ======================================================================


def q_pipe_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card summary — the one-row corpus audit a training-data
    pipeline publishes with every release: volume, token counts,
    exact-duplicate rate, language mix entropy, and exact length
    quartiles. One scan + two group-sized aggregates; every number is
    an exact integer or a single rounded expression."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(
        F.filter(
            F.split(F.lower(F.col("text")), " "),
            lambda t: F.length(t) > 0,
        )
    )
    base = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        toks.alias("n_tokens"),
        F.md5(F.col("text")).alias("h"),
    )
    dups = base.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    lang_n = base.groupBy("lang").agg(F.count(F.lit(1)).alias("ln"))
    total = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.expr(
            "percentile(n_tokens, array(0.25D, 0.5D, 0.75D))"
        ).alias("__q"),
    )
    dup_rate = dups.agg(
        (F.sum("c") - F.count(F.lit(1))).alias("n_dup_docs")
    )
    # language-mix entropy in exact nano-units: -Σ p·ln(p), each term
    # quantized before the (tiny) sum
    ent = (
        lang_n.crossJoin(
            F.broadcast(base.agg(F.count(F.lit(1)).alias("N")))
        )
        .select(
            F.round(
                -(F.col("ln").cast("double") / F.col("N"))
                * F.log(F.col("ln").cast("double") / F.col("N"))
                * F.lit(1e9)
            ).cast("long").alias("t")
        )
        # unrounded integer-nano ratio: tie-safe (see SCALE_NOTES)
        .agg((F.sum("t") / F.lit(1e9)).alias("lang_entropy"))
    )
    return (
        total.crossJoin(F.broadcast(dup_rate))
        .crossJoin(F.broadcast(ent))
        .select(
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_dup_docs",
            F.round(F.col("__q")[0], 6).alias("tokens_p25"),
            F.round(F.col("__q")[1], 6).alias("tokens_p50"),
            F.round(F.col("__q")[2], 6).alias("tokens_p75"),
            "lang_entropy",
        )
    )


_SQL_DATASET_CARD = """
WITH base AS (
  SELECT doc_id, lang, n_chars,
         len(list_filter(string_split(lower(text), ' '),
                         t -> length(t) > 0)) AS n_tokens,
         md5(text) AS h
  FROM documents
),
dup AS (
  SELECT CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_dup_docs
  FROM base
),
ent AS (
  SELECT CAST(sum(t) AS BIGINT) / 1000000000.0 AS lang_entropy FROM (
    SELECT CAST(round(
      -(CAST(ln AS DOUBLE) / N) * ln(CAST(ln AS DOUBLE) / N) * 1e9
    ) AS BIGINT) AS t
    FROM (SELECT lang, CAST(count(*) AS BIGINT) AS ln FROM base
          GROUP BY lang),
         (SELECT CAST(count(*) AS BIGINT) AS N FROM base)
  )
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       (SELECT n_dup_docs FROM dup) AS n_dup_docs,
       round(quantile_cont(n_tokens, 0.25), 6) AS tokens_p25,
       round(quantile_cont(n_tokens, 0.5), 6) AS tokens_p50,
       round(quantile_cont(n_tokens, 0.75), 6) AS tokens_p75,
       (SELECT lang_entropy FROM ent) AS lang_entropy
FROM base
"""


QUERIES8: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_bpe_merges": q_text_bpe_merges,
    "text_bpe_encode": q_text_bpe_encode,
    "text_pii_scrub": q_text_pii_scrub,
    "mm_decode_stats": q_mm_decode_stats,
    "pipe_quality_buckets": q_pipe_quality_buckets,
    "rel_sketch_distinct": q_rel_sketch_distinct,
    "rel_sketch_cmcount": q_rel_sketch_cmcount,
    "rel_sketch_cm_error": q_rel_sketch_cm_error,
    "rel_shj_join": q_rel_shj_join,
    "rel_incremental_agg": q_rel_incremental_agg,
    "stream_cdc_apply": q_stream_cdc_apply,
    "rel_psi_drift": q_rel_psi_drift,
    "rel_dq_checks": q_rel_dq_checks,
    "rel_funnel": q_rel_funnel,
    "rel_retention_cohorts": q_rel_retention_cohorts,
    "rel_band_join": q_rel_band_join,
    "stream_ivm_view": q_stream_ivm_view,
    "pipe_weighted_sample": q_pipe_weighted_sample,
    "rel_outlier_zscore": q_rel_outlier_zscore,
    "rel_concurrency_timeline": q_rel_concurrency_timeline,
    "rel_graph_triangles": q_rel_graph_triangles,
    "rel_bloom_membership": q_rel_bloom_membership,
    "src_dynamic_overwrite": q_src_dynamic_overwrite,
    "src_schema_evolution": q_src_schema_evolution,
    "rel_sequence_pattern": q_rel_sequence_pattern,
    "emb_quantize_int8": q_emb_quantize_int8,
    "text_langid_confusion": q_text_langid_confusion,
    "rel_asof_nearest": q_rel_asof_nearest,
    "text_lm_bigram": q_text_lm_bigram,
    "emb_centroid_shift": q_emb_centroid_shift,
    "rel_grouping_id": q_rel_grouping_id,
    "src_csv_malformed": q_src_csv_malformed,
    "rel_null_semantics": q_rel_null_semantics,
    "rel_explode_outer": q_rel_explode_outer,
    "rel_decimal_exact": q_rel_decimal_exact,
    "pipe_dataset_card": q_pipe_dataset_card,
}


def oracles8() -> Dict[str, str]:
    return {
        "text_bpe_merges": _sql_bpe_merges(),
        "text_bpe_encode": _sql_bpe_encode(),
        "text_pii_scrub": _sql_pii_scrub(),
        "mm_decode_stats": _SQL_MM_DECODE,
        "pipe_quality_buckets": _sql_quality_buckets(),
        "rel_sketch_distinct": _sql_sketch_distinct(),
        "rel_sketch_cmcount": _sql_sketch_cmcount(),
        "rel_sketch_cm_error": _sql_sketch_cm_error(),
        "rel_shj_join": _SQL_SHJ_JOIN,
        "rel_incremental_agg": _SQL_INCREMENTAL_AGG,
        "stream_cdc_apply": _SQL_STREAM_CDC,
        "rel_psi_drift": _sql_psi_drift(),
        "rel_dq_checks": _SQL_DQ_CHECKS,
        "rel_funnel": _SQL_FUNNEL,
        "rel_retention_cohorts": _SQL_RETENTION,
        "rel_band_join": _SQL_BAND_JOIN,
        "stream_ivm_view": _SQL_STREAM_IVM,
        "pipe_weighted_sample": _sql_weighted_sample(),
        "rel_outlier_zscore": _SQL_OUTLIER_Z,
        "rel_concurrency_timeline": _SQL_CONCURRENCY,
        "rel_graph_triangles": _SQL_TRIANGLES,
        "rel_bloom_membership": _sql_bloom_membership(),
        "src_dynamic_overwrite": _SQL_DYN_OVERWRITE,
        "src_schema_evolution": _SQL_SCHEMA_EVO,
        "rel_sequence_pattern": _SQL_SEQ_PATTERN,
        "emb_quantize_int8": _SQL_EMB_INT8,
        "text_langid_confusion": _sql_langid_confusion(),
        "rel_asof_nearest": _sql_asof_nearest(),
        "text_lm_bigram": _SQL_LM_BIGRAM,
        "emb_centroid_shift": _SQL_EMB_SHIFT,
        "rel_grouping_id": _SQL_GROUPING_ID,
        "src_csv_malformed": _SQL_CSV_MALFORMED,
        "rel_null_semantics": _SQL_NULL_SEMANTICS,
        "rel_explode_outer": _SQL_EXPLODE_OUTER,
        "rel_decimal_exact": _SQL_DECIMAL_EXACT,
        "pipe_dataset_card": _SQL_DATASET_CARD,
    }
