"""Query registry, part 9: round-3 curation breadth — published
training-data quality heuristics (Gopher rules), hashed-n-gram
importance weighting (DSIR-style), semantic dedup, and classic plan
shapes (skyline, transitive closure) the earlier parts did not cover.

Same cross-engine determinism rules as queries.py: integer-exact
aggregates wherever possible, identical aliases, deterministic
tie-breaks on every LIMIT/argmax.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators.quality import GOPHER_STOPWORDS, gopher_rules
from .operators.sampling import dsir_weights
from .sources.tables import load_table


# ======================================================================
# Gopher-style quality rules
# ======================================================================

#: Word-count lower bound tuned to this corpus (the published 50-word
#: floor would fail ~all synthetic docs identically; 30 keeps the
#: verdict column informative while exercising the same rule shape).
GOPHER_MIN_WORDS = 30


def q_pipe_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality screen over documents (operators/quality.
    gopher_rules): one codegen projection, integer signals + rule
    bitmask + verdict, zero shuffles. Cross-multiplied integer
    thresholds make the verdict engine-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(docs, "text", min_words=GOPHER_MIN_WORDS).select(
        "doc_id",
        "n_words",
        "n_word_chars",
        "n_symbol_hits",
        "n_lines",
        "n_bullet_lines",
        "n_ellipsis_lines",
        "n_alpha_words",
        "n_stopword_hits",
        "fail_mask",
        "passes",
    )


def _sql_gopher_rules() -> str:
    stop_list = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
WITH sig AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
              AS BIGINT) AS n_words,
         CAST(coalesce(list_sum(list_transform(string_split(text, ' '),
                                      w -> length(w))), 0) AS BIGINT)
           AS n_word_chars,
         CAST((length(text) - length(replace(text, '#', '')))
              + (length(text) - length(replace(text, '...', ''))) // 3
              AS BIGINT) AS n_symbol_hits,
         CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(list_filter(string_split(text, chr(10)),
                l -> starts_with(ltrim(l), '-')
                     OR starts_with(ltrim(l), '*'))) AS BIGINT)
           AS n_bullet_lines,
         CAST(len(list_filter(string_split(text, chr(10)),
                l -> ends_with(rtrim(l), '...'))) AS BIGINT)
           AS n_ellipsis_lines,
         CAST(len(list_filter(string_split(text, ' '),
                w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)
           AS n_alpha_words,
         CAST(len(list_filter(string_split(text, ' '),
                w -> w IN ({stop_list}))) AS BIGINT)
           AS n_stopword_hits
  FROM documents
)
SELECT doc_id, n_words, n_word_chars, n_symbol_hits, n_lines,
       n_bullet_lines, n_ellipsis_lines, n_alpha_words, n_stopword_hits,
       CAST(
         CASE WHEN n_words < {GOPHER_MIN_WORDS} OR n_words > 100000
              THEN 1 ELSE 0 END
       + CASE WHEN n_word_chars < 3 * n_words
                OR n_word_chars > 10 * n_words THEN 2 ELSE 0 END
       + CASE WHEN n_symbol_hits * 10 > n_words THEN 4 ELSE 0 END
       + CASE WHEN n_bullet_lines * 10 > n_lines * 9 THEN 8 ELSE 0 END
       + CASE WHEN n_ellipsis_lines * 10 > n_lines * 3 THEN 16 ELSE 0 END
       + CASE WHEN n_alpha_words * 5 < n_words * 4 THEN 32 ELSE 0 END
       + CASE WHEN n_stopword_hits < 2 THEN 64 ELSE 0 END
       AS BIGINT) AS fail_mask,
       CASE WHEN n_words >= {GOPHER_MIN_WORDS} AND n_words <= 100000
             AND n_word_chars >= 3 * n_words
             AND n_word_chars <= 10 * n_words
             AND n_symbol_hits * 10 <= n_words
             AND n_bullet_lines * 10 <= n_lines * 9
             AND n_ellipsis_lines * 10 <= n_lines * 3
             AND n_alpha_words * 5 >= n_words * 4
             AND n_stopword_hits >= 2
        THEN 1 ELSE 0 END AS passes
FROM sig
"""


# ======================================================================
# DSIR-style hashed-bigram importance weighting
# ======================================================================

DSIR_BUCKETS = 256


def q_pipe_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bigram importance weights toward the English subset
    (operators/sampling.dsir_weights): one explode + two keyed
    shuffles; the 256-bucket model broadcasts; text never shuffles.
    Per-bucket log-ratios are quantized to integer micro-units so the
    per-doc sums are exact integers in any engine."""
    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(
        docs, target=F.col("lang") == "en", n_buckets=DSIR_BUCKETS
    ).select("doc_id", "n_bigrams", "weight_micro", "avg_log_ratio")


def _sql_dsir_weights() -> str:
    k = DSIR_BUCKETS
    return f"""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_t, string_split(text, ' ') AS tk
  FROM documents
), bg AS (
  SELECT doc_id, is_t,
         unnest(list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM toks
), db AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(bigram), 1, 8)) AS BIGINT) % {k}
           AS bucket,
         count(*) AS c,
         max(CASE WHEN is_t THEN 1 ELSE 0 END) AS is_t
  FROM bg GROUP BY 1, 2
), model AS (
  SELECT bucket,
         sum(CASE WHEN is_t = 1 THEN c ELSE 0 END) AS ct,
         sum(c) AS cr
  FROM db GROUP BY 1
), tot AS (
  SELECT sum(ct) AS tt, sum(cr) AS tr FROM model
), lr AS (
  SELECT bucket,
         CAST(round((ln((ct + 1)::DOUBLE / (tt + {k}))
                   - ln((cr + 1)::DOUBLE / (tr + {k}))) * 1000000)
              AS BIGINT) AS lr_micro
  FROM model, tot
)
SELECT db.doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       CAST(sum(c * lr_micro) AS BIGINT) AS weight_micro,
       CAST(sum(c * lr_micro) AS BIGINT) / 1000000.0
         / CAST(sum(c) AS BIGINT) AS avg_log_ratio
FROM db JOIN lr USING (bucket)
GROUP BY 1
"""


# ======================================================================
# SemDeDup semantic deduplication
# ======================================================================

SEMDEDUP_K = 8
SEMDEDUP_ITER = 2
SEMDEDUP_T = 0.35


def q_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (operators/dedup.semdedup):
    fixed-seed distributed Lloyd fits the clusters, assignment is a
    zero-shuffle codegen projection, the near-dup screen self-joins on
    the cluster id only. Oracle-gated by replaying the full Lloyd
    fixpoint in SQL (shared CTE chain, queries_nlp.kmeans_lloyd_ctes)
    plus the identical pair screen."""
    from .operators.dedup import semdedup
    from .operators.similarity import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=SEMDEDUP_K, n_iter=SEMDEDUP_ITER)
    return semdedup(emb, cents, threshold=SEMDEDUP_T).select(
        "vec_id", "cell", "n_dup_lower", "max_cosine", "keep"
    )


def _sql_semdedup() -> str:
    from .queries_nlp import kmeans_lloyd_ctes

    return kmeans_lloyd_ctes(SEMDEDUP_K, SEMDEDUP_ITER) + """,
asg AS (
  SELECT id, x, cell FROM (
    SELECT v.id, v.x, p.cell,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY round(list_sum(list_transform(
                        range(1, len(v.x) + 1),
                        j -> (v.x[j] - p.c[j]) * (v.x[j] - p.c[j]))), 6),
                      p.cell
           ) AS rn
    FROM v, cent%(last)d p
  ) WHERE rn = 1
),
dups AS (
  SELECT id_b, count(*) AS n_dup_lower, max(cos) AS max_cosine FROM (
    SELECT b.id AS id_b,
           round(list_cosine_similarity(a.x, b.x), 6) AS cos
    FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id
  ) WHERE cos >= %(t)s
  GROUP BY id_b
)
SELECT asg.id AS vec_id,
       CAST(asg.cell AS BIGINT) AS cell,
       CAST(coalesce(d.n_dup_lower, 0) AS BIGINT) AS n_dup_lower,
       d.max_cosine AS max_cosine,
       CASE WHEN d.id_b IS NULL THEN 1 ELSE 0 END AS keep
FROM asg LEFT JOIN dups d ON d.id_b = asg.id
""" % {"last": SEMDEDUP_ITER, "t": SEMDEDUP_T}


# ======================================================================
# Skyline (Pareto frontier)
# ======================================================================


def q_rel_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts: maximal size at minimal price (a part
    is dominated if another has ≥ size and ≤ price with one strict).

    Scale shape: the textbook skyline is a quadratic NOT-EXISTS
    self-join — the oracle keeps that form as an INDEPENDENT witness.
    The Spark plan instead reduces to the distinct-size axis first
    (one groupBy), runs a cumulative-min window over sizes-descending
    (domain-sized, not row-sized), and broadcast-joins the two
    thresholds back: total cost one scan + one tiny shuffle, no
    quadratic term at any scale. Prices compare in exact integer
    cents."""
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        "p_size",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("price_cents"),
    )
    by_size = p.groupBy("p_size").agg(F.min("price_cents").alias("mp"))
    w = (
        Window.orderBy(F.desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    thresholds = by_size.select(
        "p_size", "mp", F.min("mp").over(w).alias("m_larger")
    )
    return (
        p.join(F.broadcast(thresholds), "p_size")
        .where(
            (F.col("m_larger").isNull() | (F.col("m_larger") > F.col("price_cents")))
            & (F.col("mp") >= F.col("price_cents"))
        )
        .select("p_partkey", "p_size", "price_cents")
    )


_SQL_SKYLINE = """
WITH p AS (
  SELECT p_partkey, p_size,
         CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents
  FROM part
)
SELECT p_partkey, p_size, price_cents
FROM p a
WHERE NOT EXISTS (
  SELECT 1 FROM p b
  WHERE b.p_size >= a.p_size AND b.price_cents <= a.price_cents
    AND (b.p_size > a.p_size OR b.price_cents < a.price_cents)
)
"""


# ======================================================================
# Hierarchy closure + rollup (WITH RECURSIVE analog)
# ======================================================================


def q_rel_tree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over a derived part hierarchy (parent = key÷2, a
    binary tree rooted at 1; keys 0 and 1 are roots): per part its
    depth, subtree size, and subtree retail-price total in exact cents.

    This is the ``WITH RECURSIVE`` workload class, and the oracle
    replays it as an INDEPENDENT linear-recursion CTE in DuckDB. On
    the Spark side the recursion is solved in closed form (round 9):
    parent = key÷2 means the tree is an implicit binary heap, so the
    ancestors of key k are EXACTLY k>>j for j = 1..bit_length(k)-1
    with hop distance j, and depth(k) = bit_length(k)-1. The closure
    is therefore one explode over per-row bit arithmetic — zero joins,
    zero iteration — where rounds of relation-squaring self-joins
    (operators/graph.ancestor_closure, still the general-DAG operator)
    previously built a 40M-row pair set through 5 persisted rounds at
    sf1. Identical (node, anc, dist) rows, proven against the oracle
    CTE at sf0.01/sf0.1 and against ancestor_closure by unit test."""
    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("pc"),
    )
    # (node, dist, anc, pc) closure rows by bit arithmetic; pc rides
    # along so the subtree aggregate needs no join back to p. conv to
    # base-2 keeps bit_length exact where floor(log2(double)) wouldn't.
    cl = p.where(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").alias("node"),
        "pc",
        F.explode(
            F.sequence(
                F.lit(1),
                F.length(
                    F.conv(F.col("p_partkey").cast("string"), 10, 2)
                )
                - 1,
            )
        ).alias("dist"),
    ).withColumn("anc", F.expr("shiftright(node, dist)"))
    sub = cl.groupBy("anc").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("pc").alias("sc")
    )
    # depth(k) = max dist over k's closure rows = bit_length(k)-1, with
    # the left-join coalesce(depth, 0) fallback for the rootish keys
    # 0/1 folded in (bit_length(1)-1 = 0, conv(0) -> "0" -> 0)
    out = p.join(sub, p["p_partkey"] == sub["anc"], "left").select(
        "p_partkey",
        (
            F.length(F.conv(F.col("p_partkey").cast("string"), 10, 2))
            - 1
        )
        .cast("long")
        .alias("depth"),
        (F.coalesce("nd", F.lit(0)) + 1).cast("long").alias("n_subtree"),
        (F.coalesce("sc", F.lit(0)) + F.col("pc"))
        .cast("long")
        .alias("subtree_cents"),
    )
    return out


_SQL_TREE_ROLLUP = """
WITH RECURSIVE e AS (
  SELECT p_partkey AS child, p_partkey // 2 AS anc
  FROM part WHERE p_partkey >= 2
), cl AS (
  SELECT child AS node, anc, 1 AS dist FROM e
  UNION ALL
  SELECT cl.node, e.anc, cl.dist + 1 FROM cl JOIN e ON cl.anc = e.child
), p AS (
  SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS pc
  FROM part
), d AS (
  SELECT node, max(dist) AS depth FROM cl GROUP BY 1
), s AS (
  SELECT anc, count(*) AS nd, sum(p.pc) AS sc
  FROM cl JOIN p ON p.p_partkey = cl.node GROUP BY 1
)
SELECT p.p_partkey,
       CAST(coalesce(d.depth, 0) AS BIGINT) AS depth,
       CAST(coalesce(s.nd, 0) + 1 AS BIGINT) AS n_subtree,
       CAST(coalesce(s.sc, 0) + p.pc AS BIGINT) AS subtree_cents
FROM p
LEFT JOIN d ON d.node = p.p_partkey
LEFT JOIN s ON s.anc = p.p_partkey
"""


# ======================================================================
# Per-entity OLS trend features
# ======================================================================

#: minutes from unix epoch to 2024-01-01T00:00Z — keeps x² sums far
#: inside LONG range (see group_trend_ols overflow contract)
_MIN_2024 = 1_704_067_200 // 60


def q_feat_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear usage trend (slope/intercept of event value over
    time) from five exact integer moments in one grouped aggregate
    (operators/timeseries.group_trend_ols). x = minutes since
    2024-01-01, y = value in centi-units; the closed-form solution is
    a single rounded double expression over exact LONG sums, so the
    oracle replays it bit-for-bit."""
    from .operators.timeseries import group_trend_ols

    ev = load_table(spark, sf_dir, "events")
    q = ev.select(
        "user_id",
        (F.expr("unix_micros(ts) div 60000000") - F.lit(_MIN_2024)).alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    return group_trend_ols(q, ["user_id"], "x", "y").select(
        "user_id", "n", "slope", "intercept"
    )


def _sql_trend_ols() -> str:
    return f"""
WITH q AS (
  SELECT user_id,
         epoch_us(ts) // 60000000 - {_MIN_2024} AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
), g AS (
  SELECT user_id, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM q GROUP BY 1
)
SELECT user_id, n,
       CASE WHEN n * sxx - sx * sx <> 0 THEN
         round((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx)::DOUBLE, 6)
       END AS slope,
       CASE WHEN n * sxx - sx * sx <> 0 THEN
         round((sy::DOUBLE
                - ((n * sxy - sx * sy)::DOUBLE
                   / (n * sxx - sx * sx)::DOUBLE) * sx::DOUBLE)
               / n::DOUBLE, 6)
       END AS intercept
FROM g
"""


# ======================================================================
# Logistic regression via Newton/IRLS (full iteration replay)
# ======================================================================

LOGIT_ITER = 2


def _irls_trace_frame(spark: SparkSession, trace) -> DataFrame:
    """Shared scaffolding for the GLM gates: package a glm_irls trace
    (driver-small by construction) as the gate's output frame with
    coefficients rounded for hashing."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("it", T.LongType()),
            T.StructField("sw", T.LongType()),
            T.StructField("swx", T.LongType()),
            T.StructField("swxx", T.LongType()),
            T.StructField("g0", T.LongType()),
            T.StructField("g1", T.LongType()),
            T.StructField("beta0", T.DoubleType()),
            T.StructField("beta1", T.DoubleType()),
        ]
    )
    rows = [
        (t["it"], t["sw"], t["swx"], t["swxx"], t["g0"], t["g1"],
         t["beta0"], t["beta1"])
        for t in trace
    ]
    return spark.createDataFrame(rows, schema).select(
        "it", "sw", "swx", "swxx", "g0", "g1",
        F.round("beta0", 9).alias("beta0"),
        F.round("beta1", 9).alias("beta1"),
    )




def q_cv_logit_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Newton steps of logistic regression (click ~ value) fit as
    one exact-integer aggregation per step
    (operators/linear_fastpath.logistic_irls); emits the per-step
    moment sums and the post-step coefficients. The oracle replays
    both steps: step 1 is transcendental-free (β=0 ⇒ μ=½ exactly),
    step 2 quantizes after the single exp() per row."""
    from .operators.linear_fastpath import logistic_irls

    ev = load_table(spark, sf_dir, "events")
    pts = ev.select(
        (F.round(F.col("value") * 100).cast("long").cast("double")
         / F.lit(10_000.0)).alias("x"),
        F.when(F.col("event_type") == "click", F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    return _irls_trace_frame(
        spark, logistic_irls(pts, "x", "y", n_iter=LOGIT_ITER)
    )


_SQL_LOGIT_IRLS = """
WITH pts AS (
  SELECT CAST(round(value * 100) AS BIGINT)::DOUBLE / 10000.0 AS x,
         CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS y
  FROM events
), it1 AS (
  SELECT CAST(sum(CAST(round(0.25 * 1000000000.0) AS BIGINT)) AS BIGINT) AS sw,
         CAST(sum(CAST(round(0.25 * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swx,
         CAST(sum(CAST(round(0.25 * x * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swxx,
         CAST(sum(CAST(round((y - 0.5) * 1000000000.0) AS BIGINT)) AS BIGINT) AS g0,
         CAST(sum(CAST(round((y - 0.5) * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS g1
  FROM pts
), b1 AS (
  SELECT sw, swx, swxx, g0, g1,
         (swxx::DOUBLE * g0::DOUBLE - swx::DOUBLE * g1::DOUBLE)
           / (sw::DOUBLE * swxx::DOUBLE - swx::DOUBLE * swx::DOUBLE)
           AS beta0,
         (sw::DOUBLE * g1::DOUBLE - swx::DOUBLE * g0::DOUBLE)
           / (sw::DOUBLE * swxx::DOUBLE - swx::DOUBLE * swx::DOUBLE)
           AS beta1
  FROM it1
), p2 AS (
  SELECT y, x, mu, mu * (1.0 - mu) AS w FROM (
    SELECT y, x, 1.0 / (1.0 + exp(-(beta0 + beta1 * x))) AS mu
    FROM pts, b1
  )
), it2 AS (
  SELECT CAST(sum(CAST(round(w * 1000000000.0) AS BIGINT)) AS BIGINT) AS sw,
         CAST(sum(CAST(round(w * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swx,
         CAST(sum(CAST(round(w * x * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swxx,
         CAST(sum(CAST(round((y - mu) * 1000000000.0) AS BIGINT)) AS BIGINT) AS g0,
         CAST(sum(CAST(round((y - mu) * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS g1
  FROM p2
), b2 AS (
  SELECT it2.sw, it2.swx, it2.swxx, it2.g0, it2.g1,
         b1.beta0 + (it2.swxx::DOUBLE * it2.g0::DOUBLE
                     - it2.swx::DOUBLE * it2.g1::DOUBLE)
           / (it2.sw::DOUBLE * it2.swxx::DOUBLE
              - it2.swx::DOUBLE * it2.swx::DOUBLE) AS beta0,
         b1.beta1 + (it2.sw::DOUBLE * it2.g1::DOUBLE
                     - it2.swx::DOUBLE * it2.g0::DOUBLE)
           / (it2.sw::DOUBLE * it2.swxx::DOUBLE
              - it2.swx::DOUBLE * it2.swx::DOUBLE) AS beta1
  FROM it2, b1
)
SELECT 1::BIGINT AS it, sw, swx, swxx, g0, g1,
       round(beta0, 9) AS beta0, round(beta1, 9) AS beta1 FROM b1
UNION ALL
SELECT 2::BIGINT, sw, swx, swxx, g0, g1,
       round(beta0, 9), round(beta1, 9) FROM b2
"""


# ======================================================================
# Fuzzy vocabulary pairs (SymSpell deletion-neighborhood blocking)
# ======================================================================


def q_text_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance ≤ 2 vocabulary pairs via deletion-neighborhood
    blocking (operators/text.fuzzy_word_pairs): vocab-sized join keys,
    no all-pairs product. The oracle runs the textbook quadratic
    levenshtein self-join, so the hash gate doubles as a completeness
    proof of the blocking theorem on this corpus."""
    from .operators.text import fuzzy_word_pairs

    docs = load_table(spark, sf_dir, "documents")
    return fuzzy_word_pairs(docs).select("w1", "w2", "dist", "df1", "df2")


_SQL_FUZZY_PAIRS = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
), vocab AS (
  SELECT w, count(DISTINCT doc_id) AS df
  FROM toks WHERE length(w) >= 3 GROUP BY 1
)
SELECT a.w AS w1, b.w AS w2,
       CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist,
       a.df AS df1, b.df AS df2
FROM vocab a JOIN vocab b ON a.w < b.w
WHERE levenshtein(a.w, b.w) <= 2
"""


# ======================================================================
# Temperature-scaled source mixing
# ======================================================================


def q_pipe_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ=0.5 source-mixing plan + deterministic routing over documents
    (operators/sampling.temperature_mix): corpus scanned twice,
    shuffled never; the mixture table is domain-sized. sqrt is IEEE
    correctly rounded in both engines, shares resolve in integer basis
    points, and row routing is the md5 bucket convention — so kept
    counts hash-match exactly."""
    from .operators.sampling import temperature_mix

    docs = load_table(spark, sf_dir, "documents")
    return temperature_mix(docs, "source", "doc_id").select(
        "source", "n_docs", "w_micro", "share_bp", "target_docs",
        "kept_docs",
    )


def _sql_temperature_mix() -> str:
    from .operators.sampling import duckdb_hash_bucket

    bucket = duckdb_hash_bucket("doc_id", "mix")
    return f"""
WITH counts AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), plan AS (
  SELECT source, n_docs,
         CAST(round(sqrt(n_docs::DOUBLE) * 1000000) AS BIGINT) AS w_micro
  FROM counts
), shares AS (
  SELECT source, n_docs, w_micro,
         CAST(round((w_micro * 10000)::DOUBLE
                    / (sum(w_micro) OVER ())::DOUBLE) AS BIGINT)
           AS share_bp,
         sum(n_docs) OVER () AS _n
  FROM plan
), plan2 AS (
  SELECT source, n_docs, w_micro, share_bp,
         CAST(round((_n * share_bp)::DOUBLE / 10000.0) AS BIGINT)
           AS target_docs
  FROM shares
), kept AS (
  SELECT d.source, count(*) AS kept_docs
  FROM documents d JOIN plan2 p ON d.source = p.source
  WHERE ({bucket}) * p.n_docs < p.target_docs * 10000
  GROUP BY 1
)
SELECT p.source, p.n_docs, p.w_micro, p.share_bp, p.target_docs,
       CAST(coalesce(k.kept_docs, 0) AS BIGINT) AS kept_docs
FROM plan2 p LEFT JOIN kept k ON k.source = p.source
"""


# ======================================================================
# Streaming late-data / watermark-eviction gate
# ======================================================================


def q_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics end-to-end: three deterministic
    micro-batches (on-time rows → an empty eviction batch → thousands
    of late rows) through a watermarked windowed aggregation in append
    mode. The gate pins the TWO contracts a 100× streaming user relies
    on: every window below the watermark emits exactly once at
    eviction, and late rows arriving after eviction change NOTHING —
    no duplicate window emissions, no count corrections. The oracle
    computes the same closed-window counts from the on-time batch
    alone; if the engine ever re-emitted or merged late data the hash
    would diverge. (Batch chops are pinned by streaming/rolling.
    write_file_batches; the watermark lands mid-hour so the ≤-vs-<
    eviction boundary cannot bite.)"""
    from .sources.tables import configure, normalize_event_ts
    from .streaming.rolling import (
        drain,
        ensure_feed_by,
        memory_sink,
        replay_feed,
    )

    configure(spark)
    ev = load_table(spark, sf_dir, "events")
    fh = ev.agg(F.date_trunc("hour", F.max("ts")).alias("h")).first()["h"]
    # batch 0 = on-time rows, batch 1 = the deliberate watermark-advance
    # gap (empty by construction), batch 2 = the late rows; the two
    # predicates partition ev, so one scan with a CASE batch id
    # replaces the three-branch union
    on_time = (F.col("event_id") % 2 == 0) | (F.col("ts") >= F.lit(fh))
    feed = ensure_feed_by(
        ev,
        F.when(on_time, F.lit(0)).otherwise(F.lit(2)),
        3,
        "late_data_feed",
        empty_batches=(1,),
    )
    stream = normalize_event_ts(replay_feed(spark, ev.schema, feed))
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    name = "stream_late_data_sink"
    out = drain(spark, name, lambda: memory_sink(agg, name, "append"))
    return out.select(
        F.unix_micros(F.col("win.start")).alias("win_start_us"),
        "event_type",
        "cnt",
    )


_SQL_STREAM_LATE = """
WITH fh AS (
  SELECT date_trunc('hour', max(ts)) AS h FROM events
), a AS (
  SELECT e.* FROM events e, fh
  WHERE e.event_id % 2 = 0 OR e.ts >= fh.h
), wm AS (
  SELECT max(epoch_us(ts)) // 1000 - 3600000 AS wm_ms FROM a
), w AS (
  SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us,
         event_type, count(*) AS cnt,
         epoch_us(date_trunc('hour', ts) + INTERVAL 1 HOUR) // 1000
           AS we_ms
  FROM a GROUP BY date_trunc('hour', ts), event_type
)
SELECT win_start_us, event_type, cnt FROM w, wm WHERE we_ms <= wm_ms
"""


# ======================================================================
# n-gram novelty (marginal-contribution curation signal)
# ======================================================================


def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of trigram shingles first seen in that doc
    (operators/text.ngram_novelty): two keyed shuffles of (doc,
    shingle) pairs, nothing quadratic. Integer numerators, one rounded
    division."""
    from .operators.text import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=3).select(
        "doc_id", "n_grams", "n_novel", "novelty"
    )


_SQL_NOVELTY = """
WITH pairs AS (
  SELECT DISTINCT doc_id, g FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(tk) >= 3
                  THEN list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2])
                  ELSE [] END) AS g
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
          FROM documents)
  )
), first AS (
  SELECT g, min(doc_id) AS _first FROM pairs GROUP BY 1
)
SELECT p.doc_id,
       count(*) AS n_grams,
       CAST(sum(CASE WHEN p.doc_id = f._first THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(sum(CASE WHEN p.doc_id = f._first THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS novelty
FROM pairs p JOIN first f USING (g)
GROUP BY 1
"""


# ======================================================================
# ANN recall@k evaluation
# ======================================================================


def q_sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH index against exact cosine top-k
    (operators/similarity.topk_recall): the eval joins the two already
    k·n_queries-sized results, so it is cheaper than either search.
    The oracle replays BOTH pipelines (reusing the declared gates'
    SQL verbatim as nested CTEs) and the same join."""
    from .operators.similarity import topk_recall
    from .queries_data import q_sim_cosine_topk, q_sim_lsh_topk

    exact = q_sim_cosine_topk(spark, sf_dir)
    ann = q_sim_lsh_topk(spark, sf_dir)
    return topk_recall(exact, ann).select(
        "query_id", "n_exact", "n_hit", "recall"
    )


def _sql_recall_eval() -> str:
    from .queries_data import _SQL_COSINE_TOPK, _sql_lsh_topk

    return f"""
WITH exact AS ({_SQL_COSINE_TOPK}),
ann AS ({_sql_lsh_topk()})
SELECT e.query_id,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       round(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             ::DOUBLE / count(*), 6) AS recall
FROM exact e
LEFT JOIN ann a ON a.query_id = e.query_id
              AND a.neighbor_id = e.neighbor_id
GROUP BY 1
"""


# ======================================================================
# End-to-end curation funnel
# ======================================================================

FUNNEL_REP_MAX = 0.2  # max dup-3gram ratio a surviving doc may have


def q_pipe_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE composed plan with per-stage
    survivor accounting: Gopher quality screen → exact dedup (keep the
    lowest doc id per md5(text)) → repetition filter. Each stage is the
    already-gated operator; the funnel proves they COMPOSE — one scan
    feeds three narrow/keyed stages and a final one-row audit, the
    shape a production corpus build runs nightly. The oracle nests the
    stages' own SQL verbatim."""
    from pyspark.sql import Window

    from .operators.quality import gopher_rules
    from .operators.text import repetition_signals

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_rules(docs, "text", min_words=GOPHER_MIN_WORDS).select(
        "doc_id", "text", "passes"
    )
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    staged = (
        g.withColumn("_rn", F.row_number().over(w))
        .withColumn("s1", F.col("passes"))
        .withColumn(
            "s2", (F.col("passes") == 1) & (F.col("_rn") == 1)
        )
        .join(
            repetition_signals(docs).select("doc_id", "dup_3gram_ratio"),
            "doc_id",
        )
        .withColumn(
            "s3",
            F.col("s2") & (F.col("dup_3gram_ratio") <= FUNNEL_REP_MAX),
        )
    )
    return staged.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("s1").cast("long")).alias("n_quality"),
        F.sum(F.col("s2").cast("long")).alias("n_deduped"),
        F.sum(F.col("s3").cast("long")).alias("n_final"),
    )


def _sql_curation_funnel() -> str:
    from .queries_nlp import _sql_text_repetition

    return f"""
WITH g AS ({_sql_gopher_rules()}),
rep AS ({_sql_text_repetition()}),
keymin AS (
  SELECT md5(text) AS h, min(doc_id) AS keeper
  FROM documents GROUP BY 1
),
staged AS (
  SELECT g.doc_id, g.passes AS s1,
         CASE WHEN g.passes = 1 AND k.keeper = g.doc_id
              THEN 1 ELSE 0 END AS s2,
         CASE WHEN g.passes = 1 AND k.keeper = g.doc_id
               AND rep.dup_3gram_ratio <= {FUNNEL_REP_MAX}
              THEN 1 ELSE 0 END AS s3
  FROM g
  JOIN documents d ON d.doc_id = g.doc_id
  JOIN keymin k ON k.h = md5(d.text)
  JOIN rep ON rep.doc_id = g.doc_id
)
SELECT count(*) AS n_total,
       CAST(sum(s1) AS BIGINT) AS n_quality,
       CAST(sum(s2) AS BIGINT) AS n_deduped,
       CAST(sum(s3) AS BIGINT) AS n_final
FROM staged
"""


# ======================================================================
# CSV quoting/escape/multiline round-trip
# ======================================================================


def q_src_csv_quoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CSV contract everyone trips on: fields containing the
    delimiter, embedded double quotes, AND embedded newlines must
    round-trip byte-exactly through the writer's quoting/escaping and
    the reader's multiLine mode. The gate synthesizes such a field from
    every document, writes CSV, reads it back, and emits per-row md5
    of the recovered text — the oracle computes the same md5 from the
    same synthesized expression without any file in between, so ANY
    quoting loss flips the hash."""
    import os

    docs = load_table(spark, sf_dir, "documents")
    tricky = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 20),
            F.lit(',"inner",\n'),
            F.substring("text", 21, 10),
        ).alias("txt"),
    )
    path = os.path.join(
        os.getcwd(), "spark-warehouse", "sinks", "csv_quoted"
    )
    (
        tricky.write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        # the univocity writer/reader TRIM whitespace by default — a
        # silent corruption this gate exists to catch; disable on both
        # sides so the round trip is byte-exact
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .schema("doc_id long, txt string")
        .csv(path)
    )
    return back.select("doc_id", F.md5("txt").alias("txt_md5"))


_SQL_CSV_QUOTED = """
SELECT doc_id,
       md5(substr(text, 1, 20) || ',"inner",' || chr(10)
           || substr(text, 21, 10)) AS txt_md5
FROM documents
"""


# ======================================================================
# Deterministic per-group mode
# ======================================================================


def q_rel_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most-frequent event_type per user with a pinned tie-break
    (higher count wins, then lexicographically smallest type): the
    argmax-of-count plan — count aggregate + one ranked window over
    the group-sized (not row-sized) counts. Engine mode() functions
    have unspecified tie behavior, which is exactly why the explicit
    form is worth gating."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


_SQL_MODE_PER_GROUP = """
WITH c AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id, event_type AS mode_type, n FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY n DESC, event_type
  ) AS rk FROM c
) WHERE rk = 1
"""


# ======================================================================
# Streaming decayed (trending) counters
# ======================================================================


def q_stream_decay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-items state machine over three deterministic
    micro-batches (events split by event_id mod 3): every batch decays
    all per-user counters by ½ then adds its counts
    (streaming/rolling.stream_decayed_counts). Because ½ is a negative
    power of two the counters are exact dyadic doubles, so the oracle
    replays them as batch-indexed weights (¼, ½, 1) with no float
    tolerance."""
    from .sources.tables import configure, normalize_event_ts
    from .streaming.rolling import drain, feed_stream, stream_decayed_counts

    configure(spark)
    ev = load_table(spark, sf_dir, "events")
    name = "stream_decay_sink"

    def start():
        stream = feed_stream(ev, F.col("event_id") % 3, 3, "decay_feed")
        return stream_decayed_counts(
            normalize_event_ts(stream), "user_id", decay=0.5,
            query_name=name,
        )

    state = drain(spark, name, start)
    return state.select("user_id", "c").orderBy("user_id")


_SQL_STREAM_DECAY = """
WITH c AS (
  SELECT user_id, event_id % 3 AS bid, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       sum(n * (CASE bid WHEN 0 THEN 0.25 WHEN 1 THEN 0.5
                ELSE 1.0 END)::DOUBLE) AS c
FROM c GROUP BY 1
"""


# ======================================================================
# Poisson regression via Newton/IRLS
# ======================================================================


def q_cv_poisson_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Newton steps of Poisson regression — daily event count per
    user ~ centered day-of-month (operators/linear_fastpath.glm_irls,
    family='poisson'). Same one-scan-per-step / nano-quantized-moments
    contract as the logistic gate; step 1 is transcendental-free
    (β=0 ⇒ μ=1 exactly, working weight 1)."""
    from .operators.linear_fastpath import glm_irls

    ev = load_table(spark, sf_dir, "events")
    pts = (
        ev.groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.count(F.lit(1)).alias("y"))
        .select(
            ((F.dayofmonth("d") - 15).cast("double") / F.lit(10.0))
            .alias("x"),
            F.col("y").cast("double").alias("y"),
        )
    )
    return _irls_trace_frame(
        spark,
        glm_irls(pts, "x", "y", family="poisson", n_iter=LOGIT_ITER),
    )


_SQL_POISSON_IRLS = """
WITH pts AS (
  SELECT (CAST(dayofmonth(d) - 15 AS DOUBLE) / 10.0) AS x,
         CAST(y AS DOUBLE) AS y
  FROM (
    SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS y
    FROM events GROUP BY 1, 2
  )
), it1 AS (
  SELECT CAST(sum(CAST(round(1.0 * 1000000000.0) AS BIGINT)) AS BIGINT) AS sw,
         CAST(sum(CAST(round(1.0 * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swx,
         CAST(sum(CAST(round(1.0 * x * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swxx,
         CAST(sum(CAST(round((y - 1.0) * 1000000000.0) AS BIGINT)) AS BIGINT) AS g0,
         CAST(sum(CAST(round((y - 1.0) * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS g1
  FROM pts
), b1 AS (
  SELECT sw, swx, swxx, g0, g1,
         (swxx::DOUBLE * g0::DOUBLE - swx::DOUBLE * g1::DOUBLE)
           / (sw::DOUBLE * swxx::DOUBLE - swx::DOUBLE * swx::DOUBLE)
           AS beta0,
         (sw::DOUBLE * g1::DOUBLE - swx::DOUBLE * g0::DOUBLE)
           / (sw::DOUBLE * swxx::DOUBLE - swx::DOUBLE * swx::DOUBLE)
           AS beta1
  FROM it1
), p2 AS (
  SELECT y, x, mu, mu AS w FROM (
    SELECT y, x, exp(beta0 + beta1 * x) AS mu FROM pts, b1
  )
), it2 AS (
  SELECT CAST(sum(CAST(round(w * 1000000000.0) AS BIGINT)) AS BIGINT) AS sw,
         CAST(sum(CAST(round(w * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swx,
         CAST(sum(CAST(round(w * x * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swxx,
         CAST(sum(CAST(round((y - mu) * 1000000000.0) AS BIGINT)) AS BIGINT) AS g0,
         CAST(sum(CAST(round((y - mu) * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS g1
  FROM p2
), b2 AS (
  SELECT it2.sw, it2.swx, it2.swxx, it2.g0, it2.g1,
         b1.beta0 + (it2.swxx::DOUBLE * it2.g0::DOUBLE
                     - it2.swx::DOUBLE * it2.g1::DOUBLE)
           / (it2.sw::DOUBLE * it2.swxx::DOUBLE
              - it2.swx::DOUBLE * it2.swx::DOUBLE) AS beta0,
         b1.beta1 + (it2.sw::DOUBLE * it2.g1::DOUBLE
                     - it2.swx::DOUBLE * it2.g0::DOUBLE)
           / (it2.sw::DOUBLE * it2.swxx::DOUBLE
              - it2.swx::DOUBLE * it2.swx::DOUBLE) AS beta1
  FROM it2, b1
)
SELECT 1::BIGINT AS it, sw, swx, swxx, g0, g1,
       round(beta0, 9) AS beta0, round(beta1, 9) AS beta1 FROM b1
UNION ALL
SELECT 2::BIGINT, sw, swx, swxx, g0, g1,
       round(beta0, 9), round(beta1, 9) FROM b2
"""


# ======================================================================
# Matryoshka-truncation recall (dimension-reduction quality eval)
# ======================================================================

MRL_DIM = 16


def q_sim_mrl_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-truncation eval (Matryoshka-style, public method):
    exact top-k on the first 16 dimensions vs exact top-k on the full
    vector, per-query recall via operators/similarity.topk_recall. The
    dimension cut is a pure codegen slice — the cheap retrieval tier's
    quality is measured with two searches + one doc-sized join."""
    from .operators.similarity import cosine_topk, topk_recall
    from .queries_data import TOPK_K, TOPK_NQ

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < TOPK_NQ)
    full = cosine_topk(emb, queries, k=TOPK_K)
    t = emb.select(
        "vec_id", F.slice("embedding", 1, MRL_DIM).alias("embedding")
    )
    tq = t.where(F.col("vec_id") < TOPK_NQ)
    trunc = cosine_topk(t, tq, k=TOPK_K)
    return topk_recall(full, trunc).select(
        "query_id", "n_exact", "n_hit", "recall"
    )


def _sql_mrl_recall() -> str:
    from .queries_data import TOPK_K, TOPK_NQ

    def topk(vec: str) -> str:
        return f"""
  WITH q AS (
    SELECT vec_id AS query_id, {vec} AS qv
    FROM embeddings WHERE vec_id < {TOPK_NQ}
  ), c AS (
    SELECT vec_id AS neighbor_id, {vec} AS cv FROM embeddings
  ), s AS (
    SELECT query_id, neighbor_id,
           round(list_cosine_similarity(qv, cv), 6) AS cosine
    FROM q, c WHERE query_id <> neighbor_id
  )
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank FROM s
  ) WHERE rank <= {TOPK_K}
"""

    return f"""
WITH fullk AS ({topk("CAST(embedding AS DOUBLE[])")}),
trunc AS ({topk(f"CAST(embedding AS DOUBLE[])[1:{MRL_DIM}]")})
SELECT f.query_id,
       count(*) AS n_exact,
       CAST(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hit,
       round(sum(CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             ::DOUBLE / count(*), 6) AS recall
FROM fullk f
LEFT JOIN trunc t ON t.query_id = f.query_id
                 AND t.neighbor_id = f.neighbor_id
GROUP BY 1
"""


# ======================================================================
# Character-distribution entropy
# ======================================================================


def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc character Shannon entropy (operators/text.char_entropy):
    one keyed count shuffle; −Σ p·ln p with nano-quantized terms so the
    per-doc sums are exact integers cross-engine."""
    from .operators.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    return char_entropy(docs).select(
        "doc_id", "n_chars", "n_distinct_chars", "entropy_nano", "entropy"
    )


_SQL_TEXT_ENTROPY = """
WITH counts AS (
  SELECT doc_id, ch, count(*) AS c FROM (
    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
  ) WHERE ch <> '' GROUP BY 1, 2
), withn AS (
  SELECT doc_id, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM counts
)
SELECT doc_id,
       CAST(max(n) AS BIGINT) AS n_chars,
       count(*) AS n_distinct_chars,
       -CAST(sum(CAST(round((c::DOUBLE / n::DOUBLE)
                       * ln(c::DOUBLE / n::DOUBLE)
                       * 1000000000.0) AS BIGINT)) AS BIGINT) AS entropy_nano,
       (-CAST(sum(CAST(round((c::DOUBLE / n::DOUBLE)
                              * ln(c::DOUBLE / n::DOUBLE)
                              * 1000000000.0) AS BIGINT)) AS BIGINT))
         / 1000000000.0 AS entropy
FROM withn GROUP BY 1
"""


# ======================================================================
# Last-touch attribution (as-of self-join on one table)
# ======================================================================


def q_rel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution: every purchase event is
    credited to the user's most recent strictly-earlier click (ties on
    identical timestamps break by event_id). One union + one ordered
    window per user — the as-of merge pattern (operators/timeseries.
    asof_join specialized to a self-join), no inequality join anywhere.
    Purchases with no preceding click stay NULL-attributed (kept)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.col("event_id").alias("click_id"),
        F.lit(0).alias("_side"),
    )
    buys = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.col("event_id").alias("buy_id"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.lit(1).alias("_side"),
    )
    m = clicks.select(
        "user_id", "t", "click_id",
        F.lit(None).cast("long").alias("buy_id"),
        F.lit(None).cast("long").alias("cents"),
        "_side",
        F.col("click_id").alias("_eid"),
    ).unionByName(
        buys.select(
            "user_id", "t",
            F.lit(None).cast("long").alias("click_id"),
            "buy_id", "cents", "_side",
            F.col("buy_id").alias("_eid"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "_side", "_eid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = m.withColumn(
        "attr_click", F.last("click_id", ignorenulls=True).over(w)
    )
    return (
        attributed.where(F.col("_side") == 1)
        .select("user_id", "buy_id", "cents", "attr_click")
    )


_SQL_ATTRIBUTION = """
WITH m AS (
  SELECT user_id, epoch_us(ts) AS t, event_id AS click_id,
         NULL::BIGINT AS buy_id, NULL::BIGINT AS cents,
         0 AS _side, event_id AS _eid
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, epoch_us(ts), NULL, event_id,
         CAST(round(value * 100) AS BIGINT), 1, event_id
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id, buy_id, cents, attr_click FROM (
  SELECT *, last_value(click_id IGNORE NULLS) OVER (
    PARTITION BY user_id ORDER BY t, _side, _eid
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ) AS attr_click
  FROM m
) WHERE _side = 1
"""


# ======================================================================
# Clustering-vs-labels purity eval
# ======================================================================


def q_emb_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised-clustering quality against the labeled ground
    truth: per k-means cell, the dominant label, its share in basis
    points, and the cell size. Reuses the SemDeDup Lloyd fit (same
    constants → same oracle CTE chain), so the eval costs one
    assignment projection + one count aggregate + one argmax window
    over cell-sized counts."""
    from pyspark.sql import Window

    from .operators.similarity import kmeans_assign, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_fit(emb, k=SEMDEDUP_K, n_iter=SEMDEDUP_ITER)
    asg = kmeans_assign(emb, cents, round_to=6)
    counts = asg.groupBy("cell", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("cell").orderBy(F.desc("n"), F.asc("label"))
    tot = Window.partitionBy("cell")
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .withColumn("cell_n", F.sum("n").over(tot))
        .where(F.col("_rk") == 1)
        .select(
            F.col("cell").cast("long").alias("cell"),
            F.col("label").alias("top_label"),
            F.col("n").alias("top_n"),
            F.col("cell_n"),
            F.expr("(n * 10000) div cell_n").alias("purity_bp"),
        )
    )


def _sql_cluster_purity() -> str:
    from .queries_nlp import kmeans_lloyd_ctes

    return kmeans_lloyd_ctes(SEMDEDUP_K, SEMDEDUP_ITER) + """,
asg AS (
  SELECT id, cell FROM (
    SELECT v.id, p.cell,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY round(list_sum(list_transform(
                        range(1, len(v.x) + 1),
                        j -> (v.x[j] - p.c[j]) * (v.x[j] - p.c[j]))), 6),
                      p.cell
           ) AS rn
    FROM v, cent%(last)d p
  ) WHERE rn = 1
),
counts AS (
  SELECT asg.cell, e.label, count(*) AS n
  FROM asg JOIN embeddings e ON e.vec_id = asg.id
  GROUP BY 1, 2
)
SELECT CAST(cell AS BIGINT) AS cell, label AS top_label, n AS top_n,
       cell_n,
       CAST(n * 10000 // cell_n AS BIGINT) AS purity_bp
FROM (
  SELECT *, row_number() OVER (
           PARTITION BY cell ORDER BY n DESC, label
         ) AS rk,
         CAST(sum(n) OVER (PARTITION BY cell) AS BIGINT) AS cell_n
  FROM counts
) WHERE rk = 1
""" % {"last": SEMDEDUP_ITER}


# ======================================================================
# Cross-source vocabulary overlap (Jaccard matrix)
# ======================================================================


def q_text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-mix
    diagnostic ("are src3 and src9 the same crawl?"). Distinct
    (source, term) pairs once (vocab-sized), self-join on term for
    intersections, broadcast per-source totals for the union — never a
    doc-level product. Basis-point Jaccard keeps it integer-exact."""
    docs = load_table(spark, sf_dir, "documents")
    st = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).where(F.col("term") != "").distinct()
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("nv"))
    a = st.select(F.col("source").alias("sa"), "term")
    b = st.select(F.col("source").alias("sb"), "term")
    inter = (
        a.join(b, "term")
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("sa"), F.col("nv").alias("na"))
    sb = sizes.select(F.col("source").alias("sb"), F.col("nv").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "sa")
        .join(F.broadcast(sb), "sb")
        .select(
            "sa", "sb", "n_inter", "na", "nb",
            F.expr("(n_inter * 10000) div (na + nb - n_inter)").alias(
                "jaccard_bp"
            ),
        )
    )


_SQL_SOURCE_OVERLAP = """
WITH st AS (
  SELECT DISTINCT source, term FROM (
    SELECT source, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) WHERE term <> ''
), sizes AS (
  SELECT source, count(*) AS nv FROM st GROUP BY 1
), inter AS (
  SELECT a.source AS sa, b.source AS sb, count(*) AS n_inter
  FROM st a JOIN st b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT sa, sb, n_inter, x.nv AS na, y.nv AS nb,
       CAST(n_inter * 10000 // (x.nv + y.nv - n_inter) AS BIGINT)
         AS jaccard_bp
FROM inter
JOIN sizes x ON x.source = sa
JOIN sizes y ON y.source = sb
"""


# ======================================================================
# NOT IN vs NOT EXISTS vs ANTI JOIN (the NULL trap gallery)
# ======================================================================


def q_rel_not_in_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic three-valued-logic migration trap, pinned: with one
    NULL in the subquery (NULLIF(c_nationkey, 0)), ``NOT IN`` returns
    ZERO rows (x <> NULL is UNKNOWN for every x), while ``NOT EXISTS``
    and a left-anti join return the real answer. One row per variant
    with its count — an engine that "fixes" NOT IN silently would
    hash-mismatch. Expressed through the SQL gateway so the plan is
    the engine's own null-aware anti join."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "v_supplier"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_customer"
    )
    return spark.sql(
        """
        SELECT 'not_in' AS variant, (
          SELECT count(*) FROM v_supplier
          WHERE s_nationkey NOT IN
            (SELECT nullif(c_nationkey, 0) FROM v_customer)
        ) AS n
        UNION ALL
        SELECT 'not_exists', (
          SELECT count(*) FROM v_supplier s
          WHERE NOT EXISTS (
            SELECT 1 FROM v_customer c
            WHERE nullif(c.c_nationkey, 0) = s.s_nationkey
          )
        )
        UNION ALL
        SELECT 'anti_join', (
          SELECT count(*) FROM (
            SELECT s.s_suppkey FROM v_supplier s
            LEFT JOIN (SELECT DISTINCT nullif(c_nationkey, 0) AS k
                       FROM v_customer) c
              ON c.k = s.s_nationkey
            WHERE c.k IS NULL
          )
        )
        """
    )


_SQL_NOT_IN_NULL = """
SELECT 'not_in' AS variant, (
  SELECT count(*) FROM supplier
  WHERE s_nationkey NOT IN
    (SELECT nullif(c_nationkey, 0) FROM customer)
) AS n
UNION ALL
SELECT 'not_exists', (
  SELECT count(*) FROM supplier s
  WHERE NOT EXISTS (
    SELECT 1 FROM customer c
    WHERE nullif(c.c_nationkey, 0) = s.s_nationkey
  )
)
UNION ALL
SELECT 'anti_join', (
  SELECT count(*) FROM (
    SELECT s.s_suppkey FROM supplier s
    LEFT JOIN (SELECT DISTINCT nullif(c_nationkey, 0) AS k
               FROM customer) c
      ON c.k = s.s_nationkey
    WHERE c.k IS NULL
  )
)
"""


# ======================================================================
# Sequence-packing efficiency audit
# ======================================================================


def q_pipe_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader-facing audit of the packing layout: per shard the doc and
    token totals, the number of emitted sequences, how many documents
    straddle a chunk boundary, and the tail padding waste — the numbers
    that decide whether the packing budget/shard count is right before
    a training run. Pure aggregation over the already-gated
    pack_sequences layout (integer arithmetic only)."""
    from .operators.sampling import pack_sequences
    from .operators.text import text_stats
    from .queries_dss import PACK_BUDGET, PACK_SHARDS

    docs = load_table(spark, sf_dir, "documents")
    toks = text_stats(docs, "text").select(
        "doc_id", F.col("n_ws_tokens").cast("long").alias("n_tokens")
    )
    out = pack_sequences(
        toks, "n_tokens", PACK_BUDGET, id_col="doc_id",
        n_shards=PACK_SHARDS,
    )
    b = PACK_BUDGET
    return (
        out.groupBy(F.col("shard").cast("long").alias("shard"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.max(
                F.col("seq") * b + F.col("offset") + F.col("n_tokens")
            ).alias("_end"),
            F.sum(
                F.when(
                    F.col("offset") + F.col("n_tokens") > b, 1
                ).otherwise(0)
            ).cast("long").alias("n_straddlers"),
        )
        .select(
            "shard",
            "n_docs",
            "total_tokens",
            F.expr(f"(_end + {b} - 1) div {b}").alias("n_seqs"),
            (
                F.expr(f"((_end + {b} - 1) div {b}) * {b}")
                - F.col("total_tokens")
            ).alias("waste_tokens"),
            "n_straddlers",
        )
    )


def _sql_pack_efficiency() -> str:
    from .queries_dss import PACK_BUDGET, PACK_SHARDS

    b = PACK_BUDGET
    return f"""
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
SELECT CAST(shard AS BIGINT) AS shard,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST((max(start + n_tokens) + {b} - 1) // {b} AS BIGINT) AS n_seqs,
       CAST(((max(start + n_tokens) + {b} - 1) // {b}) * {b}
         - CAST(sum(n_tokens) AS BIGINT) AS BIGINT) AS waste_tokens,
       CAST(sum(CASE WHEN start % {b} + n_tokens > {b}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_straddlers
FROM runs GROUP BY 1
"""


# ======================================================================
# Exactly-once streaming parquet sink round-trip
# ======================================================================


def q_stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The durable landing path end-to-end as a declared gate: stream
    the events feed through a projection into the transactional
    parquet file sink (offset log + _spark_metadata commit log), run
    the SAME drain a second time against the SAME checkpoint (the
    restart must be a no-op — offsets already committed), then read the
    sink back and aggregate. Any duplicate or lost batch flips the
    hash against the batch oracle."""
    import os
    import shutil

    from .sources.tables import configure, normalize_event_ts
    from .streaming.rolling import stream_parquet_sink

    configure(spark)
    from .streaming.rolling import file_stream

    base = os.path.join(
        os.getcwd(), "spark-warehouse", "sinks", "stream_sink_rt"
    )
    out_dir, ckpt = os.path.join(base, "data"), os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)
    # ONE source DF reused by both drains: the restart contract needs
    # the identical source path under the same checkpoint (a fresh
    # re-chopped feed per drain would look like new data). Exactly-once
    # file-sink commits are additive — ANY key re-chop drains equal.
    src = file_stream(spark, sf_dir, "events", key_col="event_id")
    for _ in range(2):  # second drain = restart, must commit nothing new
        stream = normalize_event_ts(src).select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        q = stream_parquet_sink(
            stream, out_dir, ckpt, query_name="stream_sink_rt"
        )
        q.awaitTermination()
    back = spark.read.parquet(out_dir)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


_SQL_STREAM_SINK_RT = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
       min(event_id) AS min_id, max(event_id) AS max_id
FROM events GROUP BY 1
"""


# ======================================================================
# registry
# ======================================================================

# ======================================================================
# PMI collocations
# ======================================================================

PMI_MIN_COUNT = 5
PMI_TOP_N = 100


def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 adjacent-word collocations by pointwise mutual
    information (operators/text.pmi_collocations): bigram assembly in
    codegen array functions, one keyed shuffle per count table,
    broadcast corpus totals, nano-quantized ln ratio with a pinned
    association order, deterministic tie-break on the LIMIT."""
    from .operators.text import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return pmi_collocations(
        docs, "text", min_count=PMI_MIN_COUNT, top_n=PMI_TOP_N
    )


_SQL_PMI = f"""
WITH toks AS (
  SELECT list_filter(string_split(lower(text), ' '),
                     x -> length(x) > 0) AS t
  FROM documents
),
uni AS (
  SELECT w, count(*) AS n_w
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
),
tot_u AS (SELECT sum(n_w) AS n_uni FROM uni),
pair AS (
  SELECT b.w1 AS w1, b.w2 AS w2, count(*) AS n_pair FROM (
    SELECT unnest(list_transform(range(2, len(t) + 1),
                  i -> struct_pack(w1 := t[i - 1], w2 := t[i]))) AS b
    FROM toks
  ) GROUP BY b.w1, b.w2
),
tot_b AS (SELECT sum(n_pair) AS n_big FROM pair),
j AS (
  SELECT p.w1, p.w2, p.n_pair,
         u1.n_w AS n_w1, u2.n_w AS n_w2,
         CAST(round(ln(
           ((CAST(p.n_pair AS DOUBLE) * t1.n_uni) * t1.n_uni)
           / ((CAST(t2.n_big AS DOUBLE) * u1.n_w) * u2.n_w)
         ) * 1e9) AS BIGINT) AS pmi_nano
  FROM pair p
  JOIN uni u1 ON p.w1 = u1.w
  JOIN uni u2 ON p.w2 = u2.w, tot_u t1, tot_b t2
  WHERE p.n_pair >= {PMI_MIN_COUNT}
)
SELECT w1, w2, n_pair, n_w1, n_w2, pmi_nano,
       pmi_nano / 1000000000.0 AS pmi
FROM j
ORDER BY pmi_nano DESC, w1, w2
LIMIT {PMI_TOP_N}
"""


# ======================================================================
# multi-source BFS reachability
# ======================================================================

BFS_NATION = 3
BFS_HOPS = 4


def q_rel_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-synchronous multi-source BFS (operators/graph.bfs_levels)
    on the undirected supplier↔customer graph of lineitem⋈orders,
    seeded from one nation's suppliers: exact integer hop distances,
    frontier-broadcast rounds over a once-persisted edge list. The
    oracle replays the rounds as chained CTEs — min-of-integers per
    round is order-independent, so the replay is exact."""
    from .operators.graph import bfs_levels

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    su = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    # same packed-LONG node encoding as rel_pagerank (suppkey→2k+1,
    # custkey→2k): the dedup/join shuffles move 8-byte keys, and the
    # bijection is decoded to the oracle's string ids only at the end.
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2 + 1).alias("a"),
            (F.col("o_custkey") * 2).alias("b"),
        )
        .distinct()
    )
    # supplier↔customer edges always cross sides and the sources are
    # all suppliers, so the pair list goes in ONCE (no reversed union:
    # half the persisted edge volume) and each BFS round probes the
    # single orientation its frontier side needs (bipartite mode)
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    )
    sources = su.where(F.col("s_nationkey") == BFS_NATION).select(
        (F.col("s_suppkey") * 2 + 1).alias("node")
    )
    dist = bfs_levels(
        edges, sources, max_hops=BFS_HOPS, undirected=True, bipartite=True
    )
    # materialize the node-sized result, then RELEASE the edge-sized
    # persisted intermediates (same discipline as rel_pagerank — a
    # long-lived session must not leave an edge list in storage memory)
    out = dist.select(
        F.when(
            F.col("node") % 2 == 1,
            F.concat(F.lit("s"), F.shiftright("node", 1)),
        )
        .otherwise(F.concat(F.lit("c"), F.shiftright("node", 1)))
        .alias("node"),
        "dist",
    ).persist()
    out.count()
    for frame in dist.persisted_intermediates:
        frame.unpersist()
    return out


def _sql_bfs() -> str:
    step = """
d{k} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{p}
    UNION ALL
    SELECT e.dst AS node, d.dist + 1 AS dist
    FROM d{p} d JOIN edges e ON d.node = e.src
    WHERE d.dist = {p}
  ) GROUP BY node
)"""
    chain = ",".join(
        step.format(k=k, p=k - 1) for k in range(1, BFS_HOPS + 1)
    )
    return f"""
WITH pairs AS (
  SELECT DISTINCT 's' || l_suppkey AS a, 'c' || o_custkey AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION ALL
  SELECT b AS src, a AS dst FROM pairs
),
d0 AS (
  SELECT DISTINCT 's' || s_suppkey AS node, CAST(0 AS BIGINT) AS dist
  FROM supplier WHERE s_nationkey = {BFS_NATION}
),
{chain}
SELECT node, dist FROM d{BFS_HOPS}
"""


# ======================================================================
# binaryFile source over a byte-deterministic text sink
# ======================================================================


def q_src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingestion gate: documents are projected to
    ``doc_id|n_chars`` lines, written as a lang-partitioned TEXT sink
    with a pinned file layout (one task per lang via repartition, rows
    sorted by doc_id within the task), then read back RAW through the
    ``binaryFile`` source — the multimodal ingestion path, where
    payloads are opaque bytes plus partition metadata. The gate hashes
    every file's exact bytes; the oracle reconstructs the byte stream
    per lang with an ordered string_agg and never touches a file, so
    any drift in sink bytes (row order, separators, trailing newline)
    or in the binary source's content/length columns flips the hash.
    """
    import os

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    path = os.path.join(
        os.getcwd(), "spark-warehouse", "sinks", "binary_docs"
    )
    (
        docs.repartition("lang")
        .sortWithinPartitions("lang", "doc_id")
        .select(
            "lang",
            F.concat_ws("|", "doc_id", "n_chars").alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("lang")
        .text(path)
    )
    back = spark.read.format("binaryFile").load(path)
    return back.select(
        F.col("lang").cast("string").alias("lang"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


_SQL_BINARY_FILES = """
SELECT lang,
       CAST(strlen(blob) AS BIGINT) AS n_bytes,
       md5(blob) AS content_md5
FROM (
  SELECT lang,
         string_agg(doc_id || '|' || n_chars || chr(10), ''
                    ORDER BY doc_id) AS blob
  FROM documents GROUP BY lang
)
"""


# ======================================================================
# purged K-fold with embargo (de Prado CV for serially correlated panels)
# ======================================================================

PURGED_K, PURGED_PURGE, PURGED_EMBARGO = 5, 1, 2


def q_ps_purged_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged K-fold + embargo assignment over the events panel
    (operators/cross_validation.purged_panel_assign): contiguous test
    blocks, train excluding [test_lo−purge, test_hi+embargo) — the
    leakage guard walk-forward splits don't need but any K-fold on a
    serially correlated panel does. One broadcast fan-out join; the
    oracle replays the array_split block arithmetic in SQL."""
    from .operators.cross_validation import purged_panel_assign

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("period", F.date_format("ts", "yyyy-MM-dd"))
    )
    return (
        purged_panel_assign(
            ev, "period", PURGED_K,
            purge=PURGED_PURGE, embargo=PURGED_EMBARGO,
        )
        .groupBy(
            F.col("fold_id").cast("long").alias("fold_id"), F.col("role")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("period").alias("n_periods"),
            F.min("period").alias("min_period"),
            F.max("period").alias("max_period"),
        )
    )


_SQL_PURGED_FOLDS = f"""
WITH up AS (
  SELECT period,
         CAST(dense_rank() OVER (ORDER BY period) - 1 AS BIGINT) AS rk
  FROM (SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS period FROM events
        WHERE ts IS NOT NULL) t
),
np AS (SELECT count(*) AS n FROM up),
b AS (
  SELECT CAST(f.i AS BIGINT) AS fold_id,
         f.i * (np.n // {PURGED_K}) + LEAST(f.i, np.n % {PURGED_K})
           AS test_lo,
         (f.i + 1) * (np.n // {PURGED_K})
           + LEAST(f.i + 1, np.n % {PURGED_K}) AS test_hi,
         np.n AS n
  FROM (SELECT unnest(generate_series(0, {PURGED_K - 1})) AS i) f, np
),
assign AS (
  SELECT b.fold_id, 'test' AS role, u.period
  FROM b JOIN up u ON u.rk >= b.test_lo AND u.rk < b.test_hi
  UNION ALL
  SELECT b.fold_id, 'train' AS role, u.period
  FROM b JOIN up u
    ON u.rk < GREATEST(0, b.test_lo - {PURGED_PURGE})
    OR u.rk >= LEAST(b.n, b.test_hi + {PURGED_EMBARGO})
),
ev AS (SELECT strftime(ts, '%Y-%m-%d') AS period FROM events)
SELECT a.fold_id, a.role, count(*) AS n_rows,
       count(DISTINCT a.period) AS n_periods,
       min(a.period) AS min_period, max(a.period) AS max_period
FROM assign a JOIN ev ON ev.period = a.period
GROUP BY a.fold_id, a.role
"""


# ======================================================================
# multimodal chunk manifest (byte-range shard addressing)
# ======================================================================

MM_CHUNK_BYTES = 96
MM_CONTAIN_T = 0.5


def q_mm_chunk_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-range shard manifest over binary payloads
    (operators/multimodal.chunk_manifest): fixed-size chunk rows with
    offsets, exact byte counts, and per-chunk hashes — all Catalyst
    (sequence/explode + byte-wise substring on BinaryType), payloads
    never touch Python. The oracle replays the chunking by slicing the
    hex rendering at 2·chunk_bytes-character boundaries."""
    from .operators.multimodal import chunk_manifest

    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    return chunk_manifest(payload, chunk_bytes=MM_CHUNK_BYTES)


_SQL_MM_CHUNKS = f"""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
idx AS (
  SELECT doc_id, hx, n,
         unnest(range(0, (n + {MM_CHUNK_BYTES - 1}) // {MM_CHUNK_BYTES}))
           AS i
  FROM h
)
SELECT doc_id,
       CAST(i AS BIGINT) AS chunk_idx,
       CAST(i * {MM_CHUNK_BYTES} AS BIGINT) AS byte_off,
       CAST(LEAST({MM_CHUNK_BYTES}, n - i * {MM_CHUNK_BYTES}) AS BIGINT)
         AS n_bytes,
       md5(substring(hx, CAST(i * {2 * MM_CHUNK_BYTES} + 1 AS BIGINT),
                     {2 * MM_CHUNK_BYTES})) AS chunk_md5
FROM idx
"""


def q_mm_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed chunk-hash near-dup pairs over binary payloads
    (operators/multimodal.chunk_dedup_pairs): containment of shared
    fixed-offset chunk hashes — blob-store dedup with no codec, built
    on the all-Catalyst chunk manifest. The oracle replays the chunking
    by hex-slicing (same contract as mm_chunk_manifest) and the
    containment as a raw division of exact integers."""
    from .operators.multimodal import chunk_dedup_pairs

    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    return chunk_dedup_pairs(
        payload, chunk_bytes=MM_CHUNK_BYTES, threshold=MM_CONTAIN_T
    )


def _sql_mm_chunk_dedup() -> str:
    return f"""
WITH h AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
),
idx AS (
  SELECT doc_id, hx,
         unnest(range(0, (n + {MM_CHUNK_BYTES - 1}) // {MM_CHUNK_BYTES}))
           AS i
  FROM h
),
ch AS (
  SELECT DISTINCT doc_id,
         md5(substring(hx, CAST(i * {2 * MM_CHUNK_BYTES} + 1 AS BIGINT),
                       {2 * MM_CHUNK_BYTES})) AS chunk_md5
  FROM idx
),
sizes AS (SELECT doc_id, count(*) AS n_ch FROM ch GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
  FROM ch a JOIN ch b
    ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(sa.n_ch AS BIGINT) AS n_a,
       CAST(sb.n_ch AS BIGINT) AS n_b,
       CAST(ni AS BIGINT) AS n_inter,
       ni * 1.0 / least(sa.n_ch, sb.n_ch) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ni * 1.0 / least(sa.n_ch, sb.n_ch) >= {MM_CONTAIN_T}
"""


# ======================================================================
# streaming near-duplicate admission (ingest-time MinHash/LSH dedup)
# ======================================================================


def q_stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup suppression over three deterministic
    micro-batches (documents split by doc_id mod 3): a doc is admitted
    iff no LSH band collides with an earlier batch's admitted docs nor
    with a lower-id doc of its own batch
    (streaming/rolling.stream_near_dup_admit). State is the distinct
    band-key index of admitted docs. The oracle replays the batch
    chain as CTEs over the same md5 universal-hash signatures."""
    from .sources.tables import configure
    from .streaming.rolling import drain, feed_stream, stream_near_dup_admit

    configure(spark)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    name = "stream_near_dup_sink"
    admitted = drain(spark, name, lambda: stream_near_dup_admit(
        feed_stream(docs, F.col("doc_id") % 3, 3, "near_dup_feed"),
        query_name=name,
    ))
    return admitted.orderBy("doc_id")


def _sql_stream_near_dup() -> str:
    from .functions.hashing import MINHASH_P, minhash_params
    from .queries_data import (
        _DUCK_TOKS,
        MH_BAND,
        MH_HASHES,
        MH_SHINGLE,
        _duck_shingles,
    )

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
    band_rows = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band_id, "
        + " || '|' || ".join(
            f"sig_{j}" for j in range(b * MH_BAND, (b + 1) * MH_BAND)
        )
        + " AS band_sig FROM sigs"
        for b in range(n_bands)
    )
    # one admitted/state step per micro-batch: reject on a lower-id
    # same-batch band collision OR any collision with the accumulated
    # admitted-band index of the PREVIOUS batches
    steps = []
    for k in range(3):
        prev = (
            f"""OR EXISTS (SELECT 1 FROM st{k - 1} s
             WHERE s.band_id = x.band_id AND s.band_sig = x.band_sig)"""
            if k > 0 else ""
        )
        st_src = (
            f"SELECT band_id, band_sig FROM st{k - 1} UNION "
            if k > 0 else ""
        )
        steps.append(f"""
b{k} AS (SELECT * FROM bands WHERE doc_id % 3 = {k}),
rej{k} AS (
  SELECT DISTINCT x.doc_id FROM b{k} x
  WHERE EXISTS (SELECT 1 FROM b{k} y
                WHERE y.band_id = x.band_id
                  AND y.band_sig = x.band_sig
                  AND y.doc_id < x.doc_id)
     {prev}
),
adm{k} AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 3 = {k}
    AND doc_id NOT IN (SELECT doc_id FROM rej{k})
),
st{k} AS (
  {st_src}SELECT DISTINCT b.band_id, b.band_sig
  FROM b{k} b JOIN adm{k} a ON b.doc_id = a.doc_id
)""")
        chain = ",".join(steps)
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_duck_shingles(MH_SHINGLE)})) AS s
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
),
sigs AS (
  SELECT doc_id,
    {sig_aggs}
  FROM sh GROUP BY doc_id
),
bands AS (
  {band_rows}
),
{chain}
SELECT doc_id, CAST(bid AS BIGINT) AS batch_id FROM (
  SELECT doc_id, 0 AS bid FROM adm0
  UNION ALL SELECT doc_id, 1 AS bid FROM adm1
  UNION ALL SELECT doc_id, 2 AS bid FROM adm2
)
"""


def q_pipe_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained quality classifier — the fastText/CCNet-style
    filter every LLM curation pipeline distills: take a cheap rule
    screen as WEAK LABELS (here the Gopher verdict), fit a logistic
    model on a text feature (mean word length), score every document,
    and report the score-decile composition so a curator can pick a
    keep threshold.

    Spark plan: the gopher signals are one codegen projection
    (no shuffle); the 2-step Newton/IRLS fit is ONE exact-integer
    aggregation per step (operators/linear_fastpath.logistic_irls —
    scan-speed at 100 TB, no fold-sized task); scoring broadcasts the
    two driver floats back as literals into a second codegen
    projection; the decile report is one grouped aggregate. Total: 3
    scans + 1 tiny shuffle.

    Cross-engine contract: x = n_word_chars/n_words is a raw division
    of exact integers (bit-identical IEEE); step 1 of IRLS is
    transcendental-free (β=0 ⇒ μ=½ exactly); step 2 and the final
    scores quantize AFTER the one exp() per row; the bucket key is
    integer `div` on the quantized score. The oracle replays the whole
    chain — gopher CTE → two Newton CTEs → scoring — in pure SQL.
    """
    from .operators.linear_fastpath import logistic_irls

    docs = load_table(spark, sf_dir, "documents")
    g = gopher_rules(docs, "text", min_words=GOPHER_MIN_WORDS)
    pts = g.select(
        "doc_id",
        (
            F.col("n_word_chars") / F.greatest(F.col("n_words"), F.lit(1))
        ).alias("x"),
        F.when(F.col("passes") == 1, F.lit(1.0))
        .otherwise(F.lit(0.0))
        .alias("y"),
    )
    trace = logistic_irls(pts, "x", "y", n_iter=2)
    b0, b1 = trace[-1]["beta0"], trace[-1]["beta1"]
    scored = pts.select(
        "y",
        F.round(
            (
                F.lit(1.0)
                / (F.lit(1.0) + F.exp(-(F.lit(b0) + F.lit(b1) * F.col("x"))))
            )
            * F.lit(1_000_000.0)
        )
        .cast("long")
        .alias("score_micro"),
    )
    return (
        scored.groupBy(
            F.expr("score_micro div 100000").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("y").cast("long")).alias("n_pass"),
            F.sum("score_micro").alias("sum_score_micro"),
        )
        .orderBy("bucket")
    )


def _sql_quality_model() -> str:
    return f"""
WITH g AS ({_sql_gopher_rules()}),
pts AS (
  SELECT doc_id,
         n_word_chars / greatest(n_words, 1) AS x,
         CASE WHEN passes = 1 THEN 1.0 ELSE 0.0 END AS y
  FROM g
), it1 AS (
  SELECT CAST(sum(CAST(round(0.25 * 1000000000.0) AS BIGINT)) AS BIGINT) AS sw,
         CAST(sum(CAST(round(0.25 * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swx,
         CAST(sum(CAST(round(0.25 * x * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swxx,
         CAST(sum(CAST(round((y - 0.5) * 1000000000.0) AS BIGINT)) AS BIGINT) AS g0,
         CAST(sum(CAST(round((y - 0.5) * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS g1
  FROM pts
), b1 AS (
  SELECT (swxx::DOUBLE * g0::DOUBLE - swx::DOUBLE * g1::DOUBLE)
           / (sw::DOUBLE * swxx::DOUBLE - swx::DOUBLE * swx::DOUBLE)
           AS beta0,
         (sw::DOUBLE * g1::DOUBLE - swx::DOUBLE * g0::DOUBLE)
           / (sw::DOUBLE * swxx::DOUBLE - swx::DOUBLE * swx::DOUBLE)
           AS beta1
  FROM it1
), p2 AS (
  SELECT y, x, mu, mu * (1.0 - mu) AS w FROM (
    SELECT y, x, 1.0 / (1.0 + exp(-(beta0 + beta1 * x))) AS mu
    FROM pts, b1
  )
), it2 AS (
  SELECT CAST(sum(CAST(round(w * 1000000000.0) AS BIGINT)) AS BIGINT) AS sw,
         CAST(sum(CAST(round(w * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swx,
         CAST(sum(CAST(round(w * x * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS swxx,
         CAST(sum(CAST(round((y - mu) * 1000000000.0) AS BIGINT)) AS BIGINT) AS g0,
         CAST(sum(CAST(round((y - mu) * x * 1000000000.0) AS BIGINT)) AS BIGINT) AS g1
  FROM p2
), b2 AS (
  SELECT b1.beta0 + (it2.swxx::DOUBLE * it2.g0::DOUBLE
                     - it2.swx::DOUBLE * it2.g1::DOUBLE)
           / (it2.sw::DOUBLE * it2.swxx::DOUBLE
              - it2.swx::DOUBLE * it2.swx::DOUBLE) AS beta0,
         b1.beta1 + (it2.sw::DOUBLE * it2.g1::DOUBLE
                     - it2.swx::DOUBLE * it2.g0::DOUBLE)
           / (it2.sw::DOUBLE * it2.swxx::DOUBLE
              - it2.swx::DOUBLE * it2.swx::DOUBLE) AS beta1
  FROM it2, b1
), scored AS (
  SELECT y,
         CAST(round(1.0 / (1.0 + exp(-(beta0 + beta1 * x)))
                    * 1000000.0) AS BIGINT) AS score_micro
  FROM pts, b2
)
SELECT score_micro // 100000 AS bucket,
       count(*) AS n_docs,
       CAST(sum(CAST(y AS BIGINT)) AS BIGINT) AS n_pass,
       CAST(sum(score_micro) AS BIGINT) AS sum_score_micro
FROM scored GROUP BY 1
"""


QUERIES9: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "pipe_gopher_rules": q_pipe_gopher_rules,
    "pipe_dsir_weights": q_pipe_dsir_weights,
    "dedup_semdedup": q_dedup_semdedup,
    "rel_skyline": q_rel_skyline,
    "rel_tree_rollup": q_rel_tree_rollup,
    "feat_trend_ols": q_feat_trend_ols,
    "cv_logit_irls": q_cv_logit_irls,
    "text_fuzzy_pairs": q_text_fuzzy_pairs,
    "pipe_temperature_mix": q_pipe_temperature_mix,
    "stream_late_data": q_stream_late_data,
    "text_novelty": q_text_novelty,
    "sim_recall_eval": q_sim_recall_eval,
    "pipe_curation_funnel": q_pipe_curation_funnel,
    "src_csv_quoted": q_src_csv_quoted,
    "rel_mode_per_group": q_rel_mode_per_group,
    "stream_decay_counts": q_stream_decay_counts,
    "cv_poisson_irls": q_cv_poisson_irls,
    "sim_mrl_recall": q_sim_mrl_recall,
    "text_entropy": q_text_entropy,
    "rel_attribution": q_rel_attribution,
    "emb_cluster_purity": q_emb_cluster_purity,
    "text_source_overlap": q_text_source_overlap,
    "rel_not_in_null": q_rel_not_in_null,
    "pipe_pack_efficiency": q_pipe_pack_efficiency,
    "stream_sink_roundtrip": q_stream_sink_roundtrip,
    "text_pmi_collocations": q_text_pmi_collocations,
    "rel_bfs_reach": q_rel_bfs_reach,
    "src_binary_files": q_src_binary_files,
    "ps_purged_folds": q_ps_purged_folds,
    "mm_chunk_manifest": q_mm_chunk_manifest,
    "stream_near_dup": q_stream_near_dup,
    "pipe_quality_model": q_pipe_quality_model,
    "mm_chunk_dedup": q_mm_chunk_dedup,
}


def oracles9() -> Dict[str, str]:
    return {
        "pipe_gopher_rules": _sql_gopher_rules(),
        "pipe_quality_model": _sql_quality_model(),
        "mm_chunk_dedup": _sql_mm_chunk_dedup(),
        "pipe_dsir_weights": _sql_dsir_weights(),
        "dedup_semdedup": _sql_semdedup(),
        "rel_skyline": _SQL_SKYLINE,
        "rel_tree_rollup": _SQL_TREE_ROLLUP,
        "feat_trend_ols": _sql_trend_ols(),
        "cv_logit_irls": _SQL_LOGIT_IRLS,
        "text_fuzzy_pairs": _SQL_FUZZY_PAIRS,
        "pipe_temperature_mix": _sql_temperature_mix(),
        "stream_late_data": _SQL_STREAM_LATE,
        "text_novelty": _SQL_NOVELTY,
        "sim_recall_eval": _sql_recall_eval(),
        "pipe_curation_funnel": _sql_curation_funnel(),
        "src_csv_quoted": _SQL_CSV_QUOTED,
        "rel_mode_per_group": _SQL_MODE_PER_GROUP,
        "stream_decay_counts": _SQL_STREAM_DECAY,
        "cv_poisson_irls": _SQL_POISSON_IRLS,
        "sim_mrl_recall": _sql_mrl_recall(),
        "text_entropy": _SQL_TEXT_ENTROPY,
        "rel_attribution": _SQL_ATTRIBUTION,
        "emb_cluster_purity": _sql_cluster_purity(),
        "text_source_overlap": _SQL_SOURCE_OVERLAP,
        "rel_not_in_null": _SQL_NOT_IN_NULL,
        "pipe_pack_efficiency": _sql_pack_efficiency(),
        "stream_sink_roundtrip": _SQL_STREAM_SINK_RT,
        "text_pmi_collocations": _SQL_PMI,
        "rel_bfs_reach": _sql_bfs(),
        "src_binary_files": _SQL_BINARY_FILES,
        "ps_purged_folds": _SQL_PURGED_FOLDS,
        "mm_chunk_manifest": _SQL_MM_CHUNKS,
        "stream_near_dup": _sql_stream_near_dup(),
    }
