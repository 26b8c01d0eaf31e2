"""Query registry, part 12 (round 5), twelve queries:

* sketches — ``rel_sketch_hll`` (mergeable HyperLogLog, exact-integer
  register algebra), ``rel_sketch_kmv`` (bottom-k with set operations),
  ``stream_hll`` (the streaming register-max gate);
* similarity — ``text_tfidf_topk`` (sparse TF-IDF cosine top-k over an
  inverted shingle index), ``dedup_sorted_neighborhood`` (rank-keyed
  blocking over the simhash sort order);
* moment-algebra features — ``feat_seasonal_decompose`` (detrended
  hour-of-day profile), ``feat_changepoint`` (best two-segment OLS
  split), ``feat_rolling_corr`` (windowed Pearson),
  ``feat_ema_decay`` (exact power-of-two half-life EMA);
* quality/eval — ``dq_mad_outliers`` (robust MAD audit),
  ``cv_bootstrap_ci`` (deterministic hash-bootstrap CI),
  ``feat_woe_iv`` (weight-of-evidence bins + exact-integer IV);
* storage — ``src_rowgroup_stats`` (parquet footer census vs
  ``parquet_metadata``).

Same cross-engine determinism rules as queries.py (see the conventions
in docs/ and tests/test_oracle_conventions.py): exact-integer moments
before any division, transcendentals quantized AFTER the call, unrounded
doubles only when both engines compute them from identical integer
inputs in identical operation order, identical aliases everywhere.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .functions.hashing import word_ngrams, word_tokens
from .operators.timeseries import exact_line
from .sources.tables import load_table

# ======================================================================
# HyperLogLog distinct estimate (mergeable registers, exact algebra)
# ======================================================================

HLL_P = 6          # 2^6 = 64 registers
HLL_SALT = "hll"
_HLL_M = 1 << HLL_P
_HLL_ALPHA_M2 = 0.709 * _HLL_M * _HLL_M  # α_64·m², exact both engines


def q_rel_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event type, side by side
    with the exact count (operators/sketches.hll_register_maxes /
    hll_estimate).  At 100 TB the register table is the whole point:
    per-partition state is ≤ 64 longs per group merging by MAX, so a
    petabyte of events reduces map-side to kilobytes before the only
    exchange — where the exact column needs a users×types distinct
    shuffle.  Evidence columns (occupied, max_m, s_int) pin the full
    register algebra, not just the estimate."""
    from .operators.sketches import hll_estimate, hll_register_maxes

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type"), F.col("user_id")
    )
    regs = hll_register_maxes(
        ev, "user_id", group_by=["event_type"], p=HLL_P, salt=HLL_SALT
    )
    est = hll_estimate(regs, group_by=["event_type"], p=HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "exact_distinct", "occupied", "max_m", "s_int",
        "hll_est",
    )


def _sql_sketch_hll() -> str:
    m = _HLL_M
    raw = (
        f"{_HLL_ALPHA_M2!r} * CAST((CAST(1 AS BIGINT) << "
        f"CAST(max_m AS INTEGER)) AS DOUBLE) / CAST(s_int AS DOUBLE)"
    )
    return f"""
WITH h AS (
  SELECT event_type,
         CAST(concat('0x', substr(md5(concat(CAST(user_id AS VARCHAR),
              '{HLL_SALT}')), 1, 15)) AS BIGINT) AS h
  FROM events
),
rw AS (
  SELECT event_type, h % {m} AS reg, CAST(h // {m} AS BIGINT) AS w
  FROM h
),
regs AS (
  SELECT event_type, reg,
         CAST(max(CASE WHEN w = 0 THEN 55
                       ELSE 55 - length(bin(w)) END) AS BIGINT) AS M
  FROM rw GROUP BY event_type, reg
),
mx AS (SELECT event_type, max(M) AS max_m FROM regs GROUP BY event_type),
s AS (
  SELECT regs.event_type,
         CAST(count(*) AS BIGINT) AS occupied,
         any_value(mx.max_m) AS max_m,
         CAST(sum(CAST(1 AS BIGINT)
              << CAST(mx.max_m - regs.M AS INTEGER)) AS BIGINT) AS s_occ
  FROM regs JOIN mx USING (event_type) GROUP BY regs.event_type
),
f AS (
  SELECT event_type, occupied, max_m,
         s_occ + ({m} - occupied)
           * (CAST(1 AS BIGINT) << CAST(max_m AS INTEGER)) AS s_int
  FROM s
),
ex AS (
  SELECT event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT f.event_type, ex.exact_distinct, f.occupied, f.max_m, f.s_int,
  CASE WHEN ({raw}) <= {2.5 * m!r} AND ({m} - f.occupied) > 0
    THEN round({float(m)!r}
               * ln({float(m)!r} / CAST({m} - f.occupied AS DOUBLE)), 6)
    ELSE ({raw})
  END AS hll_est
FROM f JOIN ex USING (event_type)
"""


# ======================================================================
# sparse TF-IDF cosine top-k (inverted shingle index)
# ======================================================================

TT_SHINGLE_N = 3
TT_DF_CAP = 100   # pair dot products only via shingles with df ≤ cap
TT_TOP = 3
TT_IDF_MILLI = 1000  # idf quantization: round(ln(N/df)·1000) → BIGINT
# broadcast the doc-sized norm table into the cosine join below this
# many documents; above it (norms won't fit an executor) keep the
# shuffle join — same scale discipline as pagerank broadcast_ranks_below
TT_BCAST_NORMS_BELOW = 4_000_000


def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse-vector cosine top-k neighbours per document over a
    TF-IDF-weighted inverted shingle index — the text-side analogue of
    the embedding ANN family: no embeddings needed, candidates come
    from posting-list equi-joins, never an all-pairs comparison.

    100 TB shape: weights = tf · round(ln(N/df)·1000) are exact BIGINTs
    (idf quantized AFTER the transcendental, per conventions); norms
    are one grouped integer aggregate over ALL shingles; the pair dot
    product joins the inverted index with itself ONLY through shingles
    with df ≤ {cap} (the CCNet-style stop-shingle drop: join fan-out is
    bounded by Σ_{{df≤cap}} df² ≤ cap·postings, linear in corpus size),
    groupBy (a, b) sums wa·wb map-side.  cosine = dot /
    sqrt(norm2_a·norm2_b) is one double division of exact integers in
    identical operation order on both engines — bit-identical, so the
    per-doc row_number (cosine DESC, id tiebreak) selects identical
    rows.  Overflow: w ≤ tf·ln(N)·10³ stays far under 2^31, so w² and
    the ≤shingles-per-doc-term sums fit BIGINT with 10⁵× headroom (tf
    is within-document and SF-independent)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = word_tokens(F.col("text"))
    sh = docs.select(
        "doc_id",
        F.explode(word_ngrams(toks, TT_SHINGLE_N)).alias("shingle"),
    )
    # ONE shingle-keyed exchange feeds the whole index build: hash
    # partitioning on {shingle} satisfies the tf groupBy's clustering
    # on {doc_id, shingle} (subset rule) AND the df window's on
    # {shingle}, so neither adds an exchange — vs the old plan's two
    # (partial-agg shuffle on (doc_id, shingle), then a second full
    # shuffle on shingle for the window). Raw explode rows shuffle
    # un-pre-aggregated, but tf is ~1 for most (doc, shingle) pairs so
    # the row-count delta is small; measured sf1 index build 3.5 →
    # 2.5 s, full query ~10.2 → ~9.3 s (round-8 profiling session),
    # byte-identical output. Skew: a stop-shingle's rows co-locate,
    # the same skew class the df window already had.
    sh = sh.repartition(F.col("shingle"))
    tf = sh.groupBy("doc_id", "shingle").agg(
        F.count(F.lit(1)).alias("tf")
    )
    nd = docs.agg(F.countDistinct("doc_id").alias("nd"))
    # df = a COUNT window over the tf table's shingle partition: one
    # shuffle on shingle, replacing the groupBy + join-back of the same
    # 2.6M-row table (two shuffles + a shuffle join) — measured 10.8 →
    # 4.2 s on the sf1 index build, byte-identical output
    w = (
        tf.withColumn(
            "df",
            F.count(F.lit(1)).over(Window.partitionBy("shingle")),
        )
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "shingle",
            "df",
            (
                F.col("tf")
                * F.round(
                    F.log(
                        F.col("nd").cast("double")
                        / F.col("df").cast("double")
                    )
                    * TT_IDF_MILLI
                ).cast("long")
            ).alias("w"),
        )
    )
    # the weighted index is consumed THREE times (norms + both join
    # sides): materialize it once, or the tokenize→tf→df→idf chain —
    # including the scalar broadcast — is replicated per consumer
    # (plan audit caught 35 exchanges / 4 bnlj in the naive form; at
    # production scale write the index out as a table instead)
    w = w.localCheckpoint(eager=True)
    # norms are doc-sized (one row per document) and consumed by BOTH
    # sides of the cosine join: left lazy, each consumer re-ran the
    # full norm aggregate over the checkpointed index AND the planner
    # joined them as two pair-table-sized SMJ exchanges (r9
    # before-plan, ops 16-35). Materialize once and BROADCAST into the
    # dot table while the corpus is below the broadcast band — the dot
    # table then keeps its aggregate partitioning untouched until the
    # top-k window. Web-scale corpora (n_docs above the band) keep the
    # shuffle join, the only shape that works when the norm table
    # doesn't fit an executor (same discipline as pagerank's
    # broadcast_ranks_below).
    norms = (
        w.groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("w")).alias("norm2"))
        .localCheckpoint(eager=True)
    )
    bcast_norms = norms.count() < TT_BCAST_NORMS_BELOW
    capped = w.where(F.col("df") <= TT_DF_CAP).select(
        "doc_id", "shingle", "w"
    )
    a = capped.select(
        F.col("doc_id").alias("id_a"),
        F.col("shingle"),
        F.col("w").alias("wa"),
    )
    b = capped.select(
        F.col("doc_id").alias("id_b"),
        F.col("shingle"),
        F.col("w").alias("wb"),
    )
    dots = (
        a.join(b, "shingle")
        .where(F.col("id_a") != F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("id_a"), F.col("norm2").alias("norm2_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("id_b"), F.col("norm2").alias("norm2_b")
    )
    if bcast_norms:
        na, nb = F.broadcast(na), F.broadcast(nb)
    cos = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "cosine",
            F.col("dot").cast("double")
            / F.sqrt(
                F.col("norm2_a").cast("double")
                * F.col("norm2_b").cast("double")
            ),
        )
    )
    wnd = Window.partitionBy("id_a").orderBy(
        F.col("cosine").desc(), F.col("id_b").asc()
    )
    return (
        cos.withColumn("rk", F.row_number().over(wnd))
        .where(F.col("rk") <= TT_TOP)
        .select(
            "id_a",
            "id_b",
            F.col("rk").cast("long").alias("rk"),
            "dot",
            "norm2_a",
            "norm2_b",
            "cosine",
        )
    )


def _sql_tfidf_topk() -> str:
    from .queries_data import _DUCK_TOKS, _duck_shingles

    return f"""
WITH sh AS (
  SELECT doc_id, unnest({_duck_shingles(TT_SHINGLE_N)}) AS shingle
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
),
tf AS (
  SELECT doc_id, shingle, CAST(count(*) AS BIGINT) AS tf
  FROM sh GROUP BY doc_id, shingle
),
dfx AS (
  SELECT shingle, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY shingle
),
nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
       FROM documents),
w AS (
  SELECT tf.doc_id, tf.shingle, dfx.df,
         tf.tf * CAST(round(ln(CAST(nd.nd AS DOUBLE)
                               / CAST(dfx.df AS DOUBLE))
                            * {TT_IDF_MILLI}) AS BIGINT) AS w
  FROM tf JOIN dfx USING (shingle), nd
),
norms AS (
  SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm2
  FROM w GROUP BY doc_id
),
capped AS (SELECT doc_id, shingle, w FROM w WHERE df <= {TT_DF_CAP}),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(sum(a.w * b.w) AS BIGINT) AS dot
  FROM capped a JOIN capped b USING (shingle)
  WHERE a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
cos AS (
  SELECT d.id_a, d.id_b, d.dot,
         na.norm2 AS norm2_a, nb.norm2 AS norm2_b,
         CAST(d.dot AS DOUBLE)
           / sqrt(CAST(na.norm2 AS DOUBLE)
                  * CAST(nb.norm2 AS DOUBLE)) AS cosine
  FROM dots d
  JOIN norms na ON na.doc_id = d.id_a
  JOIN norms nb ON nb.doc_id = d.id_b
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY id_a ORDER BY cosine DESC, id_b ASC) AS rk
  FROM cos
)
SELECT id_a, id_b, CAST(rk AS BIGINT) AS rk, dot, norm2_a, norm2_b,
       cosine
FROM ranked WHERE rk <= {TT_TOP}
"""


# ======================================================================
# detrended hour-of-day seasonal profile
# ======================================================================

_EPOCH_DAY_2024 = 19723  # 2024-01-01 as days since 1970-01-01


def q_feat_seasonal_decompose(spark: SparkSession, sf_dir: str
                              ) -> DataFrame:
    """Per-event-type hour-of-day seasonality AFTER removing the linear
    day trend: fit value ~ day by exact-integer OLS moments (one
    grouped aggregate per type), then seasonal(hour) = mean_hour(value)
    − (a + b·mean_hour(day)) — which equals the hour mean of the
    detrended series by linearity, WITHOUT ever materializing per-row
    float residuals (the order-dependent float sum this formulation
    exists to avoid).  Every mean is one double division of exact
    BIGINT sums; a and b are derived from DECIMAL(38,0)-guarded moment
    products (n·Σxy overflows int64 beyond ~sf1; the guard multiplies
    in 128-bit on both engines, then one double conversion of an exact
    integer).  All float operations happen in identical order on both
    engines, so outputs are bit-identical unrounded doubles."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        (
            F.expr("unix_micros(ts) div 86400000000")
            - F.lit(_EPOCH_DAY_2024)
        ).alias("x"),
        F.hour("ts").cast("long").alias("hour"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    b, a = exact_line("n", "sx", "sy", "sxx", "sxy")
    tr = g.select("event_type", b.alias("b"), a.alias("a"))
    h = ev.groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n_h"),
        F.sum("y").alias("sy_h"),
        F.sum("x").alias("sx_h"),
    )
    out = h.join(tr, "event_type").select(
        "event_type",
        "hour",
        "n_h",
        (
            (
                F.col("sy_h").cast("double")
                / F.col("n_h").cast("double")
                - (
                    F.col("a")
                    + F.col("b")
                    * (
                        F.col("sx_h").cast("double")
                        / F.col("n_h").cast("double")
                    )
                )
            )
            / F.lit(100.0)
        ).alias("seasonal"),
        F.col("b").alias("slope_centi_per_day"),
    )
    return out


def _sql_seasonal_decompose() -> str:
    return f"""
WITH ev AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 - {_EPOCH_DAY_2024} AS x,
         CAST(hour(ts) AS BIGINT) AS hour,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
g AS (
  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM ev GROUP BY event_type
),
tr AS (
  SELECT event_type,
         CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
         (CAST(sy AS DOUBLE)
          - (CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE))
            * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS a
  FROM g
),
h AS (
  SELECT event_type, hour, CAST(count(*) AS BIGINT) AS n_h,
         CAST(sum(y) AS BIGINT) AS sy_h, CAST(sum(x) AS BIGINT) AS sx_h
  FROM ev GROUP BY event_type, hour
)
SELECT h.event_type, h.hour, h.n_h,
       (CAST(sy_h AS DOUBLE) / CAST(n_h AS DOUBLE)
        - (tr.a + tr.b * (CAST(sx_h AS DOUBLE) / CAST(n_h AS DOUBLE))))
         / 100.0 AS seasonal,
       tr.b AS slope_centi_per_day
FROM h JOIN tr USING (event_type)
"""




# ======================================================================
# exact half-life EMA (power-of-two decay)
# ======================================================================

EMA_SPAN_DAYS = 62  # 2^-62 tail is beyond double resolution anyway


def q_feat_ema_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-decayed mean of event value with a ONE-DAY
    half-life — computed EXACTLY, no sequential recurrence and no
    float powers: with day offsets e_i = d_i − d_min inside the
    ``EMA_SPAN_DAYS`` window, 2^(d_i − d_last) decay weights reduce to
    integer shifts, so

        ema = Σ y_i·2^{e_i} / Σ 2^{e_i}

    is ONE division of two exact 128-bit integer sums (the classic
    "EMA needs a scan" objection dissolved by power-of-two half-life).
    Rows older than ``EMA_SPAN_DAYS`` before the user's last day are
    dropped EXPLICITLY (their weight < 2⁻⁶² is below double resolution;
    the filter makes the truncation exact and engine-identical instead
    of an implicit float underflow).  Products are cast to
    DECIMAL(38,0) BEFORE multiplying (y·2⁶² overflows int64); the final
    decimal→double conversions of exact integers round identically on
    both engines.  100 TB shape: two partitioned windows + one grouped
    aggregate, all on the user key — a single logical shuffle."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    w_u = Window.partitionBy("user_id")
    t = (
        ev.withColumn("dmax", F.max("d").over(w_u))
        .where(F.col("d") >= F.col("dmax") - EMA_SPAN_DAYS)
        .withColumn("dmin", F.min("d").over(w_u))
        .withColumn(
            "shift",
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(d - dmin AS INT))"
            ),
        )
    )
    g = t.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("d").alias("d_last"),
        F.sum(
            F.col("y").cast("decimal(38,0)")
            * F.col("shift").cast("decimal(38,0)")
        ).alias("__num"),
        F.sum(F.col("shift").cast("decimal(38,0)")).alias("__den"),
    )
    return g.select(
        "user_id",
        "n",
        "d_last",
        (
            F.col("__num").cast("double")
            / F.col("__den").cast("double")
            / F.lit(100.0)
        ).alias("ema"),
    )


def _sql_ema_decay() -> str:
    return f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events
),
t1 AS (
  SELECT *, max(d) OVER (PARTITION BY user_id) AS dmax FROM ev
),
t2 AS (SELECT * FROM t1 WHERE d >= dmax - {EMA_SPAN_DAYS}),
t3 AS (
  SELECT *, min(d) OVER (PARTITION BY user_id) AS dmin FROM t2
),
t4 AS (
  SELECT user_id, d, y,
         (CAST(1 AS BIGINT) << CAST(d - dmin AS INTEGER)) AS shift
  FROM t3
),
g AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(max(d) AS BIGINT) AS d_last,
         sum(CAST(y AS HUGEINT) * CAST(shift AS HUGEINT)) AS num,
         sum(CAST(shift AS HUGEINT)) AS den
  FROM t4 GROUP BY user_id
)
SELECT user_id, n, d_last,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0 AS ema
FROM g
"""


# ======================================================================
# sorted-neighborhood blocking (third classic blocking family)
# ======================================================================

SN_WINDOW = 4  # candidate pairs within ±W positions of the sorted key


def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str
                                ) -> DataFrame:
    """Sorted-neighborhood near-dup blocking (Hernández–Stolfo): sort
    the corpus by a similarity-preserving key (the 24-bit SimHash —
    near-dups hash near each other), take every pair within
    ``SN_WINDOW`` positions as a candidate, verify with exact n-gram
    Jaccard.  Complements the two other blocking families already in
    the engine (LSH banding: probabilistic recall; prefix filtering:
    exact but content-keyed) with the classic RANK-keyed one whose
    candidate count is exactly n·W by construction — the tightest
    possible bound, at the price of recall limited by the key's
    locality.

    100 TB shape: the global sort rank comes from
    ``with_row_key_distributed`` (integer-key fast path: bucket
    boundaries by value arithmetic, per-bucket windows, NO
    single-partition sort, nothing pinned); neighbour pairs are W
    shifted equi-joins on the dense rank; verification reuses the
    shared candidate-pruned shingle machinery."""
    from .operators import dedup
    from .operators.application import with_row_key_distributed
    from .queries_data import JACCARD_N, JACCARD_T, SIMHASH_BITS

    docs = load_table(spark, sf_dir, "documents")
    # the integer-key rank path makes THREE passes over its input
    # ((min,max), bucket counts, bucketed window) and the shifted join
    # consumes the ranked frame twice more — materialize the per-doc
    # simhash once (one row per doc) and the tiny (doc_id, rnk) frame
    # once, instead of re-running the text-scan+shingle simhash
    # pipeline per pass (round-8 profiling: sf1 11.5-15.5 -> ~9.1-9.9 s,
    # identical output; at production scale both are written tables)
    fps = dedup.simhash(docs, n_bits=SIMHASH_BITS).localCheckpoint(
        eager=True
    )
    ranked = (
        with_row_key_distributed(
            fps, ["simhash", "doc_id"], key_col="rnk"
        )
        .select("doc_id", "rnk")
        .localCheckpoint(eager=True)
    )
    offs = F.explode(
        F.array(*[F.lit(o) for o in range(1, SN_WINDOW + 1)])
    ).alias("off")
    probes = ranked.select("doc_id", "rnk", offs).select(
        F.col("doc_id").alias("__d1"),
        (F.col("rnk") + F.col("off")).alias("rnk"),
    )
    cands = (
        probes.join(
            ranked.select(F.col("doc_id").alias("__d2"), "rnk"), "rnk"
        )
        .select(
            F.least("__d1", "__d2").alias("id_a"),
            F.greatest("__d1", "__d2").alias("id_b"),
        )
        .distinct()
    )
    out = dedup.ngram_jaccard_pairs(
        docs, shingle_n=JACCARD_N, threshold=JACCARD_T, candidates=cands
    )
    return out.select("id_a", "id_b", "jaccard")


def _sql_sorted_neighborhood() -> str:
    from .queries_data import (
        _DUCK_TOKS,
        JACCARD_N,
        JACCARD_T,
        _duck_shingles,
        _sql_simhash,
    )

    fp = _sql_simhash().strip()
    return f"""
WITH fp AS ({fp}),
ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY simhash, doc_id) - 1 AS rnk
  FROM fp
),
cands AS (
  SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                  greatest(a.doc_id, b.doc_id) AS id_b
  FROM ranked a JOIN ranked b
    ON b.rnk BETWEEN a.rnk + 1 AND a.rnk + {SN_WINDOW}
),
sh2 AS (
  SELECT doc_id, unnest(list_distinct({_duck_shingles(JACCARD_N)})) AS s
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
),
sizes2 AS (SELECT doc_id, count(*) AS n FROM sh2 GROUP BY doc_id),
inter2 AS (
  SELECT c.id_a, c.id_b, count(*) AS ni
  FROM cands c
  JOIN sh2 a ON a.doc_id = c.id_a
  JOIN sh2 b ON b.doc_id = c.id_b AND b.s = a.s
  GROUP BY c.id_a, c.id_b
)
SELECT id_a, id_b,
       ni * 1.0 / (sa.n + sb.n - ni) AS jaccard
FROM inter2
JOIN sizes2 sa ON sa.doc_id = id_a
JOIN sizes2 sb ON sb.doc_id = id_b
WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {JACCARD_T}
"""


# ======================================================================
# MAD outlier audit (robust z-score)
# ======================================================================

MAD_K_BP = 44478  # 3 · 1.4826 in basis points: |x−med| > 4.4478·MAD


def q_dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit per event type: lower median, median
    absolute deviation, and the count of values beyond 3 robust sigmas
    (MAD·1.4826 estimates σ under normality) — the z-score audit's
    robust twin (a single wild value shifts mean/std but not med/MAD).

    Everything is exact integers: values in centi-units, the LOWER
    median (k-th smallest, k = (n+1) div 2 — a deterministic VALUE even
    when row_number breaks ties arbitrarily, because sorting by value
    makes position k's value unique), MAD the same selection over
    |x − med|, and the 3σ test multiplies in basis points instead of
    dividing.  Two partitioned window sorts + one grouped count — all
    on the event-type key."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("y"),
        "event_id",
    )
    w1 = Window.partitionBy("event_type").orderBy("y", "event_id")
    wn = Window.partitionBy("event_type")
    t = (
        ev.withColumn("rn", F.row_number().over(w1))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    med = (
        t.where(
            F.col("rn") == F.expr("CAST((n + 1) AS BIGINT) div 2")
        )
        .groupBy("event_type")
        .agg(F.min("y").alias("med"), F.max("n").alias("n"))
    )
    dev = ev.join(med, "event_type").select(
        "event_type",
        "n",
        "med",
        F.abs(F.col("y") - F.col("med")).alias("ad"),
        "event_id",
        "y",
    )
    w2 = Window.partitionBy("event_type").orderBy("ad", "event_id")
    mad = (
        dev.withColumn("rn2", F.row_number().over(w2))
        .where(F.col("rn2") == F.expr("CAST((n + 1) AS BIGINT) div 2"))
        .groupBy("event_type")
        .agg(F.min("ad").alias("mad"))
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("med").alias("med_centi"),
            F.max("mad").alias("mad_centi"),
            F.sum(
                F.when(
                    F.abs(F.col("y") - F.col("med")) * 10000
                    > F.lit(MAD_K_BP) * F.col("mad"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_outliers"),
        )
    )


def _sql_mad_outliers() -> str:
    return f"""
WITH ev AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS y, event_id
  FROM events
),
t AS (
  SELECT *, row_number() OVER (
           PARTITION BY event_type ORDER BY y, event_id) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM ev
),
med AS (
  SELECT event_type, min(y) AS med, CAST(max(n) AS BIGINT) AS n
  FROM t WHERE rn = (n + 1) // 2 GROUP BY event_type
),
dev AS (
  SELECT ev.event_type, med.n, med.med, abs(ev.y - med.med) AS ad,
         ev.event_id, ev.y
  FROM ev JOIN med USING (event_type)
),
mad AS (
  SELECT event_type, min(ad) AS mad FROM (
    SELECT *, row_number() OVER (
             PARTITION BY event_type ORDER BY ad, event_id) AS rn2
    FROM dev
  ) WHERE rn2 = (n + 1) // 2 GROUP BY event_type
)
SELECT dev.event_type, CAST(max(dev.n) AS BIGINT) AS n,
       max(dev.med) AS med_centi, max(mad.mad) AS mad_centi,
       CAST(sum(CASE WHEN abs(dev.y - dev.med) * 10000
                          > {MAD_K_BP} * mad.mad
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
"""


# ======================================================================
# two-segment changepoint (best single split by OLS SSE)
# ======================================================================

CP_MIN_SEG = 2  # points per segment


def q_feat_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single changepoint of the daily-revenue series per event
    type: the split day minimizing SSE(left OLS) + SSE(right OLS),
    evaluated for EVERY admissible split in ONE pass — prefix
    cumulative moments (n, Σx, Σy, Σxy, Σx², Σy²) via an ordered
    window, right-segment moments by subtraction from the totals, each
    candidate's two SSEs in closed form from the moment identities
    Syy_c − Sxy_c²/Sxx_c.  No per-candidate scan, no iteration: the
    window computes all O(days) candidates simultaneously, which is
    the 100 TB shape (days per group is small; groups are many).

    Determinism: moments are exact integers (y² via DECIMAL(38,0)
    before the multiply — daily centi-sums square past int64); every
    SSE is the same fixed sequence of double ops on both engines, so
    the argmin row (ties broken by day) is identical.  The winning
    row's SSE is emitted unrounded (bit-identical by construction)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    )
    daily = ev.groupBy("event_type", "x").agg(
        F.sum("yc").alias("y")
    )
    wo = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    y2 = F.col("y").cast("decimal(38,0)") * F.col("y")
    t = (
        daily.withColumn("cn", F.count(F.lit(1)).over(wo))
        .withColumn("csx", F.sum("x").over(wo))
        .withColumn("csy", F.sum("y").over(wo))
        .withColumn("csxy", F.sum(F.col("x") * F.col("y")).over(wo))
        .withColumn("csxx", F.sum(F.col("x") * F.col("x")).over(wo))
        .withColumn("csyy", F.sum(y2).over(wo))
        .withColumn("tn", F.count(F.lit(1)).over(wt))
        .withColumn("tsx", F.sum("x").over(wt))
        .withColumn("tsy", F.sum("y").over(wt))
        .withColumn("tsxy", F.sum(F.col("x") * F.col("y")).over(wt))
        .withColumn("tsxx", F.sum(F.col("x") * F.col("x")).over(wt))
        .withColumn("tsyy", F.sum(y2).over(wt))
    )

    def _sse(n, sx, sy, sxy, sxx, syy):
        nd = F.col(n).cast("double")
        sxd = F.col(sx).cast("double")
        syd = F.col(sy).cast("double")
        sxyd = F.col(sxy).cast("double")
        sxxd = F.col(sxx).cast("double")
        syyd = F.col(syy).cast("double")
        sxx_c = sxxd - sxd * sxd / nd
        sxy_c = sxyd - sxd * syd / nd
        syy_c = syyd - syd * syd / nd
        return syy_c - sxy_c * sxy_c / sxx_c

    cand = (
        t.withColumn("rn_", F.col("tn") - F.col("cn"))
        .withColumn("rsx", F.col("tsx") - F.col("csx"))
        .withColumn("rsy", F.col("tsy") - F.col("csy"))
        .withColumn("rsxy", F.col("tsxy") - F.col("csxy"))
        .withColumn("rsxx", F.col("tsxx") - F.col("csxx"))
        .withColumn("rsyy", F.col("tsyy") - F.col("csyy"))
        .where(
            (F.col("cn") >= CP_MIN_SEG) & (F.col("rn_") >= CP_MIN_SEG)
        )
        .withColumn(
            "sse",
            _sse("cn", "csx", "csy", "csxy", "csxx", "csyy")
            + _sse("rn_", "rsx", "rsy", "rsxy", "rsxx", "rsyy"),
        )
    )
    wbest = Window.partitionBy("event_type").orderBy(
        F.col("sse").asc(), F.col("x").asc()
    )
    return (
        cand.withColumn("pick", F.row_number().over(wbest))
        .where(F.col("pick") == 1)
        .select(
            "event_type",
            F.col("x").alias("split_day"),
            F.col("tn").alias("n_days"),
            "sse",
        )
    )


def _sql_changepoint() -> str:
    sse_l = (
        "((CAST(csyy AS DOUBLE) - CAST(csy AS DOUBLE)*CAST(csy AS DOUBLE)"
        "/CAST(cn AS DOUBLE)) - (CAST(csxy AS DOUBLE) - CAST(csx AS "
        "DOUBLE)*CAST(csy AS DOUBLE)/CAST(cn AS DOUBLE)) * (CAST(csxy AS "
        "DOUBLE) - CAST(csx AS DOUBLE)*CAST(csy AS DOUBLE)/CAST(cn AS "
        "DOUBLE)) / (CAST(csxx AS DOUBLE) - CAST(csx AS DOUBLE)*CAST(csx "
        "AS DOUBLE)/CAST(cn AS DOUBLE)))"
    )
    sse_r = sse_l.replace("csyy", "rsyy").replace("csy", "rsy").replace(
        "csxy", "rsxy"
    ).replace("csxx", "rsxx").replace("csx", "rsx").replace("cn", "rn_")
    return f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS x,
         CAST(round(value * 100) AS BIGINT) AS yc
  FROM events
),
daily AS (
  SELECT event_type, x, CAST(sum(yc) AS BIGINT) AS y
  FROM ev GROUP BY event_type, x
),
t AS (
  SELECT event_type, x, y,
    count(*) OVER w AS cn,
    sum(x) OVER w AS csx,
    sum(y) OVER w AS csy,
    sum(x * y) OVER w AS csxy,
    sum(x * x) OVER w AS csxx,
    sum(CAST(y AS HUGEINT) * y) OVER w AS csyy,
    count(*) OVER wt AS tn,
    sum(x) OVER wt AS tsx,
    sum(y) OVER wt AS tsy,
    sum(x * y) OVER wt AS tsxy,
    sum(x * x) OVER wt AS tsxx,
    sum(CAST(y AS HUGEINT) * y) OVER wt AS tsyy
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY x
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wt AS (PARTITION BY event_type)
),
cand AS (
  SELECT *, tn - cn AS rn_, tsx - csx AS rsx, tsy - csy AS rsy,
         tsxy - csxy AS rsxy, tsxx - csxx AS rsxx, tsyy - csyy AS rsyy
  FROM t
),
scored AS (
  SELECT event_type, x, tn,
         {sse_l} + {sse_r} AS sse
  FROM cand
  WHERE cn >= {CP_MIN_SEG} AND rn_ >= {CP_MIN_SEG}
),
best AS (
  SELECT *, row_number() OVER (
    PARTITION BY event_type ORDER BY sse ASC, x ASC) AS pick
  FROM scored
)
SELECT event_type, CAST(x AS BIGINT) AS split_day,
       CAST(tn AS BIGINT) AS n_days, sse
FROM best WHERE pick = 1
"""


# ======================================================================
# KMV (k-minimum-values) distinct + intersection sketch
# ======================================================================

KMV_K = 256
KMV_SALT = "kmv"
# (k-1)·2^60 as an exact double: 255 < 2^53 scaled by a power of two
_KMV_NUM = float(KMV_K - 1) * float(1 << 60)


def q_rel_sketch_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k) sketch set algebra per event-type pair: distinct
    estimates from the k-th smallest md5 hash, intersection estimates
    from the Jaccard of the union's bottom-k sample (Beyer et al. 2007,
    Cohen–Kaplan bottom-k) — side by side with the exact counts.

    Complements the engine's other distinct sketches: linear counting
    (occupancy), HLL (register maxima) — KMV is the one whose samples
    support UNRESTRICTED set operations (the union's bottom-k is
    computable from the two bottom-k lists alone, and any h in it can
    be membership-tested against each side's list), which is why
    audience-overlap systems ship it.  State is ≤ k hashes per group,
    mergeable by "union then keep k smallest".

    Determinism: hashes are exact 60-bit md5 integers; every estimate
    is ONE double division — (k−1)·2⁶⁰ / h_k, with the (k−1)·2⁶⁰
    numerator exact in double (integer scaled by a power of two) — or
    the exact list size when the set is smaller than k (the sketch then
    holds every value).  jaccard = matches/k and inter = jaccard·union
    are fixed-order double ops over exact integers: bit-identical."""
    from .functions.hashing import md5_long

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"), F.col("user_id").alias("u")
    )
    H = ev.select(
        "t",
        md5_long(
            F.concat(F.col("u").cast("string"), F.lit(KMV_SALT))
        ).alias("h"),
    ).distinct()
    wk = Window.partitionBy("t").orderBy("h")
    # ≤ k rows per group; consumed by both pair sides and the type
    # axis — materialize so the distinct-hash shuffle runs once (plan
    # audit caught the replicated-subplan form at 23 exchanges)
    kmv = (
        H.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= KMV_K)
        .select("t", "h")
        .localCheckpoint(eager=True)
    )
    types = kmv.select("t").distinct()
    pairs = (
        types.select(F.col("t").alias("t1"))
        .crossJoin(types.select(F.col("t").alias("t2")))
        .where(F.col("t1") < F.col("t2"))
    )
    ab = (
        pairs.join(kmv.select(F.col("t").alias("t1"), "h"), "t1")
        .select("t1", "t2", "h", F.lit(1).alias("src"))
        .unionByName(
            pairs.join(kmv.select(F.col("t").alias("t2"), "h"), "t2")
            .select("t1", "t2", "h", F.lit(2).alias("src"))
        )
    )
    g = ab.groupBy("t1", "t2", "h").agg(
        F.max(F.when(F.col("src") == 1, 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("src") == 2, 1).otherwise(0)).alias("in_b"),
    )
    wu = Window.partitionBy("t1", "t2").orderBy("h")
    topk = g.withColumn("rn", F.row_number().over(wu)).where(
        F.col("rn") <= KMV_K
    )
    res = topk.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).alias("k_u"),
        F.max("h").alias("h_ku"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1)
            .otherwise(0)
        ).cast("long").alias("matches"),
    )
    union_est = F.when(
        F.col("k_u") < KMV_K, F.col("k_u").cast("double")
    ).otherwise(F.lit(_KMV_NUM) / F.col("h_ku").cast("double"))
    inter_est = (
        F.col("matches").cast("double") / F.col("k_u").cast("double")
    ) * union_est
    # exact-evidence side: one distinct shuffle consumed three times
    users = ev.distinct().localCheckpoint(eager=True)
    ua = users.select(F.col("t").alias("t1"), "u")
    ub = users.select(F.col("t").alias("t2"), "u")
    ex_i = (
        ua.join(ub, "u")
        .where(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    sizes = users.groupBy("t").agg(F.count(F.lit(1)).alias("nd"))
    out = (
        res.join(ex_i, ["t1", "t2"], "left")
        .join(sizes.select(F.col("t").alias("t1"),
                           F.col("nd").alias("na")), "t1")
        .join(sizes.select(F.col("t").alias("t2"),
                           F.col("nd").alias("nb")), "t2")
        .select(
            "t1",
            "t2",
            "k_u",
            "matches",
            union_est.alias("kmv_union_est"),
            inter_est.alias("kmv_inter_est"),
            F.coalesce(F.col("exact_inter"), F.lit(0)).alias(
                "exact_inter"
            ),
            (
                F.col("na") + F.col("nb")
                - F.coalesce(F.col("exact_inter"), F.lit(0))
            ).alias("exact_union"),
        )
    )
    return out


def _sql_sketch_kmv() -> str:
    k = KMV_K
    return f"""
WITH ev AS (
  SELECT DISTINCT event_type AS t, user_id AS u FROM events
),
H AS (
  SELECT DISTINCT t,
    CAST(concat('0x', substr(md5(concat(CAST(u AS VARCHAR),
         '{KMV_SALT}')), 1, 15)) AS BIGINT) AS h
  FROM ev
),
kmv AS (
  SELECT t, h FROM (
    SELECT t, h, row_number() OVER (PARTITION BY t ORDER BY h) AS rn
    FROM H
  ) WHERE rn <= {k}
),
types AS (SELECT DISTINCT t FROM H),
pairs AS (
  SELECT a.t AS t1, b.t AS t2 FROM types a JOIN types b ON a.t < b.t
),
ab AS (
  SELECT p.t1, p.t2, kmv.h, 1 AS src
  FROM pairs p JOIN kmv ON kmv.t = p.t1
  UNION ALL
  SELECT p.t1, p.t2, kmv.h, 2 AS src
  FROM pairs p JOIN kmv ON kmv.t = p.t2
),
g AS (
  SELECT t1, t2, h,
         max(CASE WHEN src = 1 THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN src = 2 THEN 1 ELSE 0 END) AS in_b
  FROM ab GROUP BY t1, t2, h
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY t1, t2 ORDER BY h) AS rn FROM g
  ) WHERE rn <= {k}
),
res AS (
  SELECT t1, t2, CAST(count(*) AS BIGINT) AS k_u,
         max(h) AS h_ku,
         CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS matches
  FROM topk GROUP BY t1, t2
),
ex AS (
  SELECT a.t AS t1, b.t AS t2, CAST(count(*) AS BIGINT) AS exact_inter
  FROM ev a JOIN ev b ON a.u = b.u AND a.t < b.t
  GROUP BY a.t, b.t
),
sizes AS (SELECT t, CAST(count(*) AS BIGINT) AS nd FROM ev GROUP BY t)
SELECT res.t1, res.t2, res.k_u, res.matches,
  CASE WHEN res.k_u < {k} THEN CAST(res.k_u AS DOUBLE)
       ELSE {_KMV_NUM!r} / CAST(res.h_ku AS DOUBLE) END AS kmv_union_est,
  (CAST(res.matches AS DOUBLE) / CAST(res.k_u AS DOUBLE))
    * (CASE WHEN res.k_u < {k} THEN CAST(res.k_u AS DOUBLE)
            ELSE {_KMV_NUM!r} / CAST(res.h_ku AS DOUBLE) END)
    AS kmv_inter_est,
  coalesce(ex.exact_inter, 0) AS exact_inter,
  sa.nd + sb.nd - coalesce(ex.exact_inter, 0) AS exact_union
FROM res
LEFT JOIN ex ON ex.t1 = res.t1 AND ex.t2 = res.t2
JOIN sizes sa ON sa.t = res.t1
JOIN sizes sb ON sb.t = res.t2
"""


# ======================================================================
# deterministic hash-bootstrap confidence interval
# ======================================================================

BS_B = 32          # replicates
BS_KEEP_BP = 5000  # half-sample per replicate (basis points of 10000)


def q_cv_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap-style confidence interval for the per-type mean event
    value from ``BS_B`` DETERMINISTIC half-sample replicates: replicate
    b keeps the rows whose md5(event_id||'bs'||b) bucket < 5000 — an
    m-out-of-n bootstrap whose resamples are pure hash predicates, so
    the whole thing is reproducible, engine-exact, and embarrassingly
    parallel (explode ×B, then ONE grouped aggregation with map-side
    partials; the shuffle carries B·n_groups rows, not B·n_rows).
    The CI is the 2nd/31st order statistic of the 32 replicate means —
    exact selection over bit-identical doubles (each mean is one
    division of exact integer sums), no float quantile interpolation
    anywhere."""
    from .operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("t"),
        "event_id",
        F.round(F.col("value") * 1e6).cast("long").alias("ymu"),
    )
    full = ev.groupBy("t").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum("ymu").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1e6)
        ).alias("mean_full"),
    )
    reps = ev.select(
        "t",
        "event_id",
        "ymu",
        F.explode(
            F.array(*[F.lit(b) for b in range(BS_B)])
        ).alias("b"),
    ).where(
        hash_bucket(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit("bs"),
                F.col("b").cast("string"),
            )
        )
        < BS_KEEP_BP
    )
    means = reps.groupBy("t", "b").agg(
        (
            F.sum("ymu").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1e6)
        ).alias("m")
    )
    wm = Window.partitionBy("t").orderBy(F.col("m").asc(),
                                         F.col("b").asc())
    ranked = means.withColumn("rn", F.row_number().over(wm))
    lo = ranked.where(F.col("rn") == 2).select(
        "t", F.col("m").alias("ci_lo")
    )
    hi = ranked.where(F.col("rn") == BS_B - 1).select(
        "t", F.col("m").alias("ci_hi")
    )
    return (
        full.join(lo, "t").join(hi, "t")
        .select(
            F.col("t").alias("event_type"), "n", "mean_full",
            "ci_lo", "ci_hi",
        )
    )


def _sql_bootstrap_ci() -> str:
    from .operators.sampling import duckdb_hash_bucket

    bucket = duckdb_hash_bucket(
        "concat(CAST(event_id AS VARCHAR), 'bs', CAST(b AS VARCHAR))"
    )
    return f"""
WITH ev AS (
  SELECT event_type AS t, event_id,
         CAST(round(value * 1e6) AS BIGINT) AS ymu
  FROM events
),
full_m AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(ymu) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6
           AS mean_full
  FROM ev GROUP BY t
),
reps AS (
  SELECT ev.t, ev.event_id, ev.ymu, b.b
  FROM ev, (SELECT unnest(generate_series(0, {BS_B - 1})) AS b) b
  WHERE {bucket} < {BS_KEEP_BP}
),
means AS (
  SELECT t, b,
         CAST(sum(ymu) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1e6 AS m
  FROM reps GROUP BY t, b
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY t ORDER BY m ASC, b ASC) AS rn
  FROM means
)
SELECT f.t AS event_type, f.n, f.mean_full,
       lo.m AS ci_lo, hi.m AS ci_hi
FROM full_m f
JOIN ranked lo ON lo.t = f.t AND lo.rn = 2
JOIN ranked hi ON hi.t = f.t AND hi.rn = {BS_B - 1}
"""


# ======================================================================
# streaming HLL (register-max state)
# ======================================================================

SHLL_BATCHES = 3


def q_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog: the events feed arrives as three
    deterministic micro-batches; each folds its per-type registers into
    the running state with one keyed MAX
    (streaming/rolling.stream_hll_registers).  Register maxima are
    idempotent + commutative + associative, so the drained state equals
    the batch registers over the whole feed — the estimate computed
    from it must therefore hash-match the BATCH oracle exactly
    (the same SQL as rel_sketch_hll).  The 18th streaming gate: a
    distinct-cardinality monitor a 100 TB ingest keeps continuously
    true in ≤ groups·2^p rows of state."""
    from .operators.sketches import hll_estimate
    from .sources.tables import configure
    from .streaming.rolling import (
        chop_n,
        drain,
        feed_stream,
        stream_hll_registers,
    )

    configure(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    name = "stream_hll_sink"
    n = chop_n(SHLL_BATCHES)
    regs = drain(spark, name, lambda: stream_hll_registers(
        feed_stream(ev, F.col("event_id") % n, n, "hll_feed"),
        "user_id", ["event_type"], p=HLL_P, salt=HLL_SALT,
        query_name=name,
    ))
    est = hll_estimate(regs, group_by=["event_type"], p=HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type", "exact_distinct", "occupied", "max_m",
        "s_int", "hll_est",
    )


# ======================================================================
# parquet row-group statistics audit (data-skipping evidence)
# ======================================================================

RG_TABLES = [
    ("orders", "o_orderkey"),
    ("lineitem", "l_orderkey"),
    ("customer", "c_custkey"),
    ("documents", "doc_id"),
]


def q_src_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet FOOTER census: per table / row group, the row count and
    the id column's min/max — the statistics every data-skipping scan
    planner (Spark's parquet filter pushdown, DuckDB zone maps, Iceberg
    manifests) reads INSTEAD of the data.  The gate proves the engine's
    view of storage metadata matches an independent reader's
    (pyarrow footers here vs DuckDB ``parquet_metadata()`` in the
    oracle) — the precondition for trusting min/max pruning at 100 TB,
    where the planner's skip decisions are only as good as the footer
    stats.  Driver-side manifest pattern (footers are KBs; same shape
    as the file-audit/source-manifest queries): the frame is built from
    footer metadata, never from scanning data."""
    import pyarrow.parquet as pq

    rows = []
    for tbl, col in RG_TABLES:
        path = f"{sf_dir}/{tbl}.parquet"
        md = pq.ParquetFile(path).metadata
        names = [md.schema.column(j).name for j in range(md.num_columns)]
        j = names.index(col)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(j).statistics
            rows.append(
                (tbl, rg, md.row_group(rg).num_rows,
                 int(st.min), int(st.max))
            )
    return spark.createDataFrame(
        rows,
        "tbl string, rg long, n_rows long, min_key long, max_key long",
    )


def _sql_rowgroup_stats() -> str:
    import os

    sf_dir = os.environ.get(
        "PANELSPLIT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    parts = []
    for tbl, col in RG_TABLES:
        parts.append(f"""
  SELECT '{tbl}' AS tbl, CAST(row_group_id AS BIGINT) AS rg,
         CAST(row_group_num_rows AS BIGINT) AS n_rows,
         CAST(stats_min_value AS BIGINT) AS min_key,
         CAST(stats_max_value AS BIGINT) AS max_key
  FROM parquet_metadata('{sf_dir}/{tbl}.parquet')
  WHERE path_in_schema = '{col}'""")
    return "\nUNION ALL\n".join(parts)


# ======================================================================
# rolling Pearson correlation between two daily series
# ======================================================================

RC_WIN = 7
RC_T1, RC_T2 = "click", "purchase"


def q_feat_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {RC_WIN}-day Pearson correlation between the daily
    click-revenue and purchase-revenue series — entirely from exact
    integer moments: the ordered window accumulates (n, Σa, Σb, Σab,
    Σa², Σb²) with every cross product cast to DECIMAL(38,0) BEFORE
    multiplying (daily centi-sums square past int64 at sf1), and

        r = (n·Σab − Σa·Σb) / (√(n·Σa² − Σa²) · √(n·Σb² − Σb²))

    is a fixed sequence of double ops over those exact integers — sqrt
    is exact cross-engine per the conventions, so r is bit-identical
    unrounded.  One grouped day aggregate, one join, one ordered
    window: the 100 TB shape for correlating metric streams."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("yc"),
    )
    daily = ev.groupBy("event_type", "x").agg(F.sum("yc").alias("y"))
    a = daily.where(F.col("event_type") == RC_T1).select(
        "x", F.col("y").alias("a")
    )
    b = daily.where(F.col("event_type") == RC_T2).select(
        "x", F.col("y").alias("b")
    )
    j = a.join(b, "x")
    w = (
        Window.orderBy("x")
        .rowsBetween(-(RC_WIN - 1), Window.currentRow)
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    t = (
        j.withColumn("n", F.count(F.lit(1)).over(w))
        .withColumn("sa", F.sum("a").over(w))
        .withColumn("sb", F.sum("b").over(w))
        .withColumn("sab", F.sum(dec("a") * F.col("b")).over(w))
        .withColumn("saa", F.sum(dec("a") * F.col("a")).over(w))
        .withColumn("sbb", F.sum(dec("b") * F.col("b")).over(w))
        .where(F.col("n") == RC_WIN)
    )
    nd = F.col("n").cast("double")
    sad = F.col("sa").cast("double")
    sbd = F.col("sb").cast("double")
    num = F.col("sab").cast("double") * nd - sad * sbd
    dena = F.sqrt(F.col("saa").cast("double") * nd - sad * sad)
    denb = F.sqrt(F.col("sbb").cast("double") * nd - sbd * sbd)
    return t.select(
        F.col("x").alias("day"),
        F.col("n").alias("n_win"),
        (num / (dena * denb)).alias("corr"),
    )


def _sql_rolling_corr() -> str:
    return f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS x,
         CAST(round(value * 100) AS BIGINT) AS yc
  FROM events
),
daily AS (
  SELECT event_type, x, CAST(sum(yc) AS BIGINT) AS y
  FROM ev GROUP BY event_type, x
),
j AS (
  SELECT a.x, a.y AS a, b.y AS b
  FROM (SELECT x, y FROM daily WHERE event_type = '{RC_T1}') a
  JOIN (SELECT x, y FROM daily WHERE event_type = '{RC_T2}') b
    USING (x)
),
t AS (
  SELECT x,
    count(*) OVER w AS n,
    sum(a) OVER w AS sa,
    sum(b) OVER w AS sb,
    sum(CAST(a AS HUGEINT) * b) OVER w AS sab,
    sum(CAST(a AS HUGEINT) * a) OVER w AS saa,
    sum(CAST(b AS HUGEINT) * b) OVER w AS sbb
  FROM j
  WINDOW w AS (ORDER BY x
               ROWS BETWEEN {RC_WIN - 1} PRECEDING AND CURRENT ROW)
)
SELECT CAST(x AS BIGINT) AS day, CAST(n AS BIGINT) AS n_win,
  (CAST(sab AS DOUBLE) * CAST(n AS DOUBLE)
   - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
  / (sqrt(CAST(saa AS DOUBLE) * CAST(n AS DOUBLE)
          - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
     * sqrt(CAST(sbb AS DOUBLE) * CAST(n AS DOUBLE)
            - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) AS corr
FROM t WHERE n = {RC_WIN}
"""


# ======================================================================
# weight-of-evidence / information-value feature binning
# ======================================================================

WOE_BINS = 10


def q_feat_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence profile of order value against the
    fulfilled-status label, plus the feature's information value — the
    classic credit-scoring feature screen, in the engine's exact
    idiom: fixed-width integer bins over (min, max) cents (two cheap
    aggregates, NO global sort — the 100 TB binning shape, same as the
    PSI monitor), per-bin good/bad counts, woe = ln(good share / bad
    share) quantized to micro AFTER the transcendental, and

        IV = Σ_b (g_b/G − b_b/B) · woe_b

    computed as ONE division of an exact 128-bit integer sum:
    each term's numerator (g_b·B − b_b·G)·woe_micro is exact, so the
    10-term float-sum ordering hazard never exists.  Bins missing a
    class get NULL woe and contribute zero to IV on BOTH engines
    (DuckDB's ln(0) is a hard error where Spark's is a silent NULL —
    the CASE guard is what keeps the engines aligned)."""
    od = load_table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.when(F.col("o_orderstatus") == "F", 1)
        .otherwise(0)
        .alias("good"),
    )
    mm = od.agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    )
    binned = od.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.lit(WOE_BINS - 1),
            F.expr(
                f"((cents - mn) * {WOE_BINS}) div (mx - mn + 1)"
            ),
        ).alias("bin"),
        "good",
    )
    g = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("good").alias("n_good"),
    ).withColumn("n_bad", F.col("n") - F.col("n_good"))
    wall = Window.partitionBy(F.lit(1))
    t = (
        g.withColumn("gt", F.sum("n_good").over(wall))
        .withColumn("bt", F.sum("n_bad").over(wall))
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    valid = (F.col("n_good") > 0) & (F.col("n_bad") > 0)
    woe_micro = F.when(
        valid,
        F.round(
            F.log(
                (dec("n_good") * F.col("bt")).cast("double")
                / (dec("n_bad") * F.col("gt")).cast("double")
            )
            * 1e6
        ).cast("long"),
    )
    t = t.withColumn("woe_micro", woe_micro).withColumn(
        "__term",
        F.when(
            valid,
            (dec("n_good") * F.col("bt") - dec("n_bad") * F.col("gt"))
            * F.col("woe_micro"),
        ).otherwise(F.lit(0).cast("decimal(38,0)")),
    )
    iv = (
        F.sum("__term").over(wall).cast("double")
        / (dec("gt") * F.col("bt")).cast("double")
        / F.lit(1e6)
    )
    return t.select(
        "bin", "n", "n_good", "n_bad", "woe_micro", iv.alias("iv")
    )


def _sql_woe_iv() -> str:
    b = WOE_BINS
    return f"""
WITH od AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS good
  FROM orders
),
mm AS (SELECT min(cents) AS mn, max(cents) AS mx FROM od),
binned AS (
  SELECT least({b - 1}, ((cents - mn) * {b}) // (mx - mn + 1)) AS bin,
         good
  FROM od, mm
),
g AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(good) AS BIGINT) AS n_good,
         CAST(count(*) - sum(good) AS BIGINT) AS n_bad
  FROM binned GROUP BY bin
),
t AS (
  SELECT *, sum(n_good) OVER () AS gt, sum(n_bad) OVER () AS bt
  FROM g
),
w AS (
  SELECT *,
    CASE WHEN n_good > 0 AND n_bad > 0 THEN
      CAST(round(ln((CAST(n_good AS HUGEINT) * bt)::DOUBLE
                    / (CAST(n_bad AS HUGEINT) * gt)::DOUBLE) * 1e6)
           AS BIGINT)
    END AS woe_micro
  FROM t
),
terms AS (
  SELECT *,
    CASE WHEN n_good > 0 AND n_bad > 0 THEN
      (CAST(n_good AS HUGEINT) * bt - CAST(n_bad AS HUGEINT) * gt)
        * woe_micro
    ELSE CAST(0 AS HUGEINT) END AS term
  FROM w
)
SELECT CAST(bin AS BIGINT) AS bin, n, n_good, n_bad, woe_micro,
       CAST(sum(term) OVER () AS DOUBLE)
         / (CAST(gt AS HUGEINT) * bt)::DOUBLE / 1e6 AS iv
FROM terms
"""


QUERIES12: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rel_sketch_hll": q_rel_sketch_hll,
    "text_tfidf_topk": q_text_tfidf_topk,
    "feat_seasonal_decompose": q_feat_seasonal_decompose,
    "feat_ema_decay": q_feat_ema_decay,
    "dedup_sorted_neighborhood": q_dedup_sorted_neighborhood,
    "dq_mad_outliers": q_dq_mad_outliers,
    "feat_changepoint": q_feat_changepoint,
    "rel_sketch_kmv": q_rel_sketch_kmv,
    "cv_bootstrap_ci": q_cv_bootstrap_ci,
    "stream_hll": q_stream_hll,
    "src_rowgroup_stats": q_src_rowgroup_stats,
    "feat_rolling_corr": q_feat_rolling_corr,
    "feat_woe_iv": q_feat_woe_iv,
}


def oracles12() -> Dict[str, str]:
    return {
        "rel_sketch_hll": _sql_sketch_hll(),
        "text_tfidf_topk": _sql_tfidf_topk(),
        "feat_seasonal_decompose": _sql_seasonal_decompose(),
        "feat_ema_decay": _sql_ema_decay(),
        "dedup_sorted_neighborhood": _sql_sorted_neighborhood(),
        "dq_mad_outliers": _sql_mad_outliers(),
        "feat_changepoint": _sql_changepoint(),
        "rel_sketch_kmv": _sql_sketch_kmv(),
        "cv_bootstrap_ci": _sql_bootstrap_ci(),
        # drained register state == batch registers (max is
        # order-insensitive), so the batch HLL oracle applies verbatim
        "stream_hll": _sql_sketch_hll(),
        "src_rowgroup_stats": _sql_rowgroup_stats(),
        "feat_rolling_corr": _sql_rolling_corr(),
        "feat_woe_iv": _sql_woe_iv(),
    }
