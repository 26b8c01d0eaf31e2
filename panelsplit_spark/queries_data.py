"""Query registry, part 2: training-data pipeline + relational + scale-CV
queries with DuckDB oracles (same cross-engine determinism rules as
queries.py).

Shared constants (stopword lists, LSH hyperplanes, thresholds, rounding)
are injected into BOTH the Spark program and the generated oracle SQL from
one place, so the two sides can only diverge on execution, never on
configuration.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F

from .operators import dedup, similarity, text
from .operators.application import cross_val_fit_predict
from .operators.cross_validation import PanelSplit, date_period_bounds
from .estimators import LinearRegression, MeanRegressor
from .sources.tables import configure, load_table

# ----------------------------------------------------------------------
# shared configuration
# ----------------------------------------------------------------------
MH_HASHES, MH_BAND, MH_SHINGLE = 12, 3, 3
JACCARD_N, JACCARD_T = 3, 0.3
CONTAIN_T = 0.6
SIMHASH_BITS = 24
TOPK_K, TOPK_NQ = 10, 5
# 8 planes / 2 tables: measured sweet spot for the gate corpus — vs the
# round-2 6/2 it quarters per-table bucket collisions (2^8 buckets) for
# one extra broadcastable plane set, roughly halving wall time at
# sf0.1/sf1 while keeping ~0.9-cosine near-dup recall ≈ 1-(1-0.9^8)^2.
# Raise planes with corpus size (bucket load ~ n/2^planes); the operator
# default (8/4) favors recall instead.
LSH_PLANES, LSH_TABLES, LSH_SEED = 8, 2, 42
EMB_DIM = 64
LI_K, LI_T, LI_MTS = 6, 3, 24

_DUCK_TOKS = "string_split(lower(text), ' ')"


def _duck_shingles(n: int) -> str:
    """DuckDB word-n-gram shingle list from the token list ``t``."""
    return (
        f"[array_to_string(t[i:i+{n - 1}], ' ') "
        f"for i in range(1, greatest(len(t)-{n - 1}, 0)+1)]"
    )


def _duck_md5_long(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# ======================================================================
# dedup
# ======================================================================


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup_groups(docs)


_SQL_DEDUP_EXACT = """
SELECT md5(text) AS content_hash, min(doc_id) AS canonical_id,
       count(*) AS n_dups
FROM documents GROUP BY md5(text)
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, n_hashes=MH_HASHES, shingle_n=MH_SHINGLE
    )
    return dedup.lsh_candidate_pairs(
        sigs, n_hashes=MH_HASHES, band_size=MH_BAND
    )


def _sql_minhash_lsh() -> str:
    from .functions.hashing import MINHASH_P, minhash_params

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
    for b in range(n_bands):
        cols = [
            f"sig_{j}" for j in range(b * MH_BAND, (b + 1) * MH_BAND)
        ]
        band_sig = " || '|' || ".join(cols)
        band_selects.append(
            f"SELECT a.doc_id AS id_a, b.doc_id AS id_b\n"
            f"  FROM sigs a JOIN sigs b\n"
            f"    ON ({band_sig.replace('sig_', 'a.sig_')}) = "
            f"({band_sig.replace('sig_', 'b.sig_')})\n"
            f"   AND a.doc_id < b.doc_id"
        )
    unions = "\n  UNION ALL\n".join(band_selects)
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_duck_shingles(MH_SHINGLE)})) AS s
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
),
sigs AS (
  SELECT doc_id,
    {sig_aggs}
  FROM sh GROUP BY doc_id
)
SELECT DISTINCT id_a, id_b FROM (
  {unions}
)
"""


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment pairs (operators/dedup.
    ngram_containment_pairs): |A∩B|/min(|A|,|B|) — catches the short
    document quoted inside a 10× longer one, which symmetric Jaccard
    scores near zero. Same shingle/self-join machinery as
    q_dedup_jaccard (LSH-prunable via candidates=); the scalar is a raw
    division of exact integers, so the SQL replay is bit-exact."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_containment_pairs(
        docs, shingle_n=JACCARD_N, threshold=CONTAIN_T
    ).select("id_a", "id_b", "n_a", "n_b", "n_inter", "containment")


def _sql_containment() -> str:
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_duck_shingles(JACCARD_N)})) AS s
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       CAST(ni AS BIGINT) AS n_inter,
       ni * 1.0 / least(sa.n, sb.n) AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ni * 1.0 / least(sa.n, sb.n) >= {CONTAIN_T}
"""


def q_dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB containment path: MinHash → LSH candidate pairs →
    exact containment verified ONLY on candidates (work is
    O(|candidates| × shingles/doc), independent of shingle popularity —
    the all-pairs q_dedup_containment form is quadratic in shingle
    document frequency and is the verification-scale twin)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, n_hashes=MH_HASHES, shingle_n=MH_SHINGLE
    )
    cands = dedup.lsh_candidate_pairs(
        sigs, n_hashes=MH_HASHES, band_size=MH_BAND
    )
    return dedup.ngram_containment_pairs(
        docs, shingle_n=JACCARD_N, threshold=CONTAIN_T, candidates=cands
    ).select("id_a", "id_b", "n_a", "n_b", "n_inter", "containment")


def _sql_containment_lsh() -> str:
    lsh = _sql_minhash_lsh().strip()
    return f"""
WITH cands AS (
  {lsh}
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
       CAST(sa.n AS BIGINT) AS n_a,
       CAST(sb.n AS BIGINT) AS n_b,
       CAST(ni AS BIGINT) AS n_inter,
       ni * 1.0 / least(sa.n, sb.n) AS containment
FROM inter2
JOIN sizes2 sa ON sa.doc_id = id_a
JOIN sizes2 sb ON sb.doc_id = id_b
WHERE ni * 1.0 / least(sa.n, sb.n) >= {CONTAIN_T}
"""


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.ngram_jaccard_pairs(
        docs, shingle_n=JACCARD_N, threshold=JACCARD_T
    )
    # unrounded: long/long division is bit-identical IEEE on both
    # engines; round(x,6) tie-flips on exact decimals (e.g. union=128,
    # odd intersection => quotient exactly k+0.5 at the 6th decimal)
    return out.select("id_a", "id_b", "jaccard")


_SQL_DEDUP_JACCARD = f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct({_duck_shingles(JACCARD_N)})) AS s
  FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ni * 1.0 / (sa.n + sb.n - ni) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ni * 1.0 / (sa.n + sb.n - ni) >= {JACCARD_T}
"""


def q_dedup_jaccard_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full scale-path dedup pipeline: MinHash → LSH candidates →
    exact Jaccard verification of candidates only."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(
        docs, n_hashes=MH_HASHES, shingle_n=MH_SHINGLE
    )
    cands = dedup.lsh_candidate_pairs(
        sigs, n_hashes=MH_HASHES, band_size=MH_BAND
    )
    out = dedup.ngram_jaccard_pairs(
        docs, shingle_n=JACCARD_N, threshold=JACCARD_T, candidates=cands
    )
    # unrounded: long/long division is bit-identical IEEE on both
    # engines; round(x,6) tie-flips on exact decimals (e.g. union=128,
    # odd intersection => quotient exactly k+0.5 at the 6th decimal)
    return out.select("id_a", "id_b", "jaccard")


def _sql_jaccard_lsh() -> str:
    lsh = _sql_minhash_lsh().strip().rstrip()
    return f"""
WITH cands AS (
  {lsh}
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


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, n_bits=SIMHASH_BITS)


def _sql_simhash() -> str:
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN w ELSE -w END) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"CASE WHEN s{i} > 0 THEN CAST({2 ** i} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS tok FROM documents
),
tw AS (
  SELECT doc_id, tok, count(*) AS w,
         {_duck_md5_long("tok")} AS h
  FROM toks GROUP BY doc_id, tok
),
sums AS (
  SELECT doc_id,
    {bit_sums}
  FROM tw GROUP BY doc_id
)
SELECT doc_id, {fp} AS simhash FROM sums
"""


SIMHASH_MAX_HAMMING = 3


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded simhash near-pairs: pigeonhole chunk equi-join (exact —
    the oracle is the plain all-pairs hamming filter)."""
    docs = load_table(spark, sf_dir, "documents")
    fps = dedup.simhash(docs, n_bits=SIMHASH_BITS)
    out = dedup.simhash_near_pairs(
        fps, max_hamming=SIMHASH_MAX_HAMMING, n_bits=SIMHASH_BITS
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _sql_simhash_pairs() -> str:
    fp_sql = _sql_simhash().strip()
    return f"""
WITH fp AS ({fp_sql})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = dedup.embedding_near_duplicates(
        emb,
        # low verify threshold on purpose: it only filters ALREADY
        # verified candidates, so a smaller value keeps the compared
        # output rich (dozens of rows) at zero extra compute — the gate
        # hashes more (pair, cosine) evidence per run
        threshold=0.2,
        n_planes=LSH_PLANES,
        n_tables=LSH_TABLES,
        seed=LSH_SEED,
        dim=EMB_DIM,
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


def _sql_emb_near_dup(thr: float = 0.2, raw: bool = False) -> str:
    """Oracle twin of the LSH-candidate near-dup: identical literal
    hyperplanes, per-table bucket equi-joins, exact cosine verify.

    ``thr`` = verify threshold (mirrors the Spark call site); ``raw``
    additionally emits the UNROUNDED cosine as ``cos_raw`` for
    downstream oracles that bucket the raw double (rounding first
    would flip bucket edges)."""
    bucket_exprs = []
    for t in range(LSH_TABLES):
        planes = similarity.random_hyperplanes(
            EMB_DIM, LSH_PLANES, LSH_SEED + 1000 * t
        )
        terms = []
        for i, p in enumerate(planes):
            lits = ", ".join(repr(x) for x in p)
            terms.append(
                f"CASE WHEN list_dot_product(v, [{lits}]) > 0 "
                f"THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            )
        bucket_exprs.append(" + ".join(terms) + f" AS b{t}")
    cand_unions = "\n    UNION ALL\n".join(
        f"SELECT a.vec_id AS id_a, b2.vec_id AS id_b "
        f"FROM b a JOIN b b2 ON a.b{t} = b2.b{t} "
        f"AND a.vec_id < b2.vec_id"
        for t in range(LSH_TABLES)
    )
    raw_col = (
        ",\n       list_cosine_similarity(va.v, vb.v) AS cos_raw"
        if raw
        else ""
    )
    return f"""
WITH b AS (
  SELECT vec_id, v, {", ".join(bucket_exprs)}
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
),
cand AS (
  SELECT DISTINCT id_a, id_b FROM (
    {cand_unions}
  )
)
SELECT id_a, id_b,
       round(list_cosine_similarity(va.v, vb.v), 6) AS cosine{raw_col}
FROM cand
JOIN b va ON va.vec_id = id_a
JOIN b vb ON vb.vec_id = id_b
WHERE list_cosine_similarity(va.v, vb.v) >= {thr}
"""


# ======================================================================
# text analysis
# ======================================================================


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text.quality_score(docs)
    return out.select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        F.round("digit_ratio", 6).alias("digit_ratio"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("quality", 6).alias("quality"),
    )


def _sql_text_stats() -> str:
    en = ", ".join(f"'{w}'" for w in text.STOPWORDS["en"])
    return f"""
WITH base AS (
  SELECT doc_id, text, lower(text) AS lo, {_DUCK_TOKS} AS t,
         length(text) AS n_chars
  FROM documents
),
c AS (
  SELECT doc_id,
         CAST(len(t) AS INT) AS n_ws_tokens,
         CAST(len(regexp_extract_all(lo, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
              AS INT) AS n_bpe_tokens,
         length(replace(lo, ' ', ''))
           / greatest(len(t), 1) AS avg_token_len,
         (n_chars - length(regexp_replace(lo, '[^a-z ]', '', 'g'))
                  - length(regexp_replace(lo, '[^0-9]', '', 'g')))
           * 1.0 / greatest(n_chars, 1) AS punct_ratio,
         length(regexp_replace(lo, '[^0-9]', '', 'g'))
           * 1.0 / greatest(n_chars, 1) AS digit_ratio,
         len(list_filter(t, x -> x IN ({en})))
           * 1.0 / greatest(len(t), 1) AS stopword_ratio
  FROM base
)
SELECT doc_id, n_ws_tokens, n_bpe_tokens,
       round(avg_token_len, 6) AS avg_token_len,
       round(punct_ratio, 6) AS punct_ratio,
       round(digit_ratio, 6) AS digit_ratio,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(least(1.0, ln(1.0 + n_ws_tokens) / 5.0)
             * (1.0 - punct_ratio) * (1.0 - digit_ratio), 6) AS quality
FROM c
"""


def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text.language_id(docs)
    cols = ["doc_id"] + [
        F.col(f"score_{lang}").cast("long").alias(f"score_{lang}")
        for lang in sorted(text.STOPWORDS)
    ]
    return out.select(*cols, "pred_lang")


def _sql_langid() -> str:
    langs = sorted(text.STOPWORDS)
    score_cols = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
        score_cols.append(
            f"len(list_filter(t, x -> x IN ({words}))) AS score_{lang}"
        )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred = "'und'"
    for lang in reversed(langs):
        pred = (
            f"CASE WHEN score_{lang} = {best} THEN '{lang}' ELSE {pred} END"
        )
    return f"""
WITH base AS (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents),
s AS (
  SELECT doc_id, {", ".join(score_cols)} FROM base
)
SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
       CASE WHEN {best} > 0 THEN {pred} ELSE 'und' END AS pred_lang
FROM s
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs, shingle_n=5)


_SQL_FINGERPRINT = f"""
SELECT doc_id,
       list_min([md5(s) for s in {_duck_shingles(5).replace('t[', 't[')}])
         AS fingerprint
FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents)
"""


# ======================================================================
# similarity search
# ======================================================================


def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < TOPK_NQ)
    out = similarity.cosine_topk(emb, queries, k=TOPK_K)
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


_SQL_COSINE_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < {TOPK_NQ}
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
s AS (
  SELECT query_id, neighbor_id,
         round(list_cosine_similarity(qv, cv), 6) AS cosine
  FROM q, c WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
  ) AS rank FROM s
) WHERE rank <= {TOPK_K}
"""


def q_sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < TOPK_NQ)
    out = similarity.lsh_topk(
        emb, queries, k=TOPK_K, n_planes=LSH_PLANES, n_tables=LSH_TABLES,
        seed=LSH_SEED, dim=EMB_DIM,
    )
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_lsh_topk() -> str:
    bucket_exprs = []
    for t in range(LSH_TABLES):
        planes = similarity.random_hyperplanes(
            EMB_DIM, LSH_PLANES, LSH_SEED + 1000 * t
        )
        terms = []
        for i, p in enumerate(planes):
            lits = ", ".join(repr(x) for x in p)
            terms.append(
                f"CASE WHEN list_dot_product(v, [{lits}]) > 0 "
                f"THEN CAST({2 ** i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
            )
        bucket_exprs.append(" + ".join(terms) + f" AS b{t}")
    cand_unions = "\n    UNION ALL\n".join(
        f"SELECT q.query_id, c.neighbor_id FROM q JOIN c ON q.b{t} = c.b{t}"
        for t in range(LSH_TABLES)
    )
    return f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv,
         {", ".join(bucket_exprs)}
  FROM (SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings)
),
q AS (
  SELECT neighbor_id AS query_id, cv AS qv,
         {", ".join(f"b{t}" for t in range(LSH_TABLES))}
  FROM c WHERE neighbor_id < {TOPK_NQ}
),
cand AS (
  SELECT DISTINCT query_id, neighbor_id FROM (
    {cand_unions}
  ) WHERE query_id <> neighbor_id
),
s AS (
  SELECT cand.query_id, cand.neighbor_id,
         round(list_cosine_similarity(q.qv, c.cv), 6) AS cosine
  FROM cand JOIN q ON q.query_id = cand.query_id
            JOIN c ON c.neighbor_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
  ) AS rank FROM s
) WHERE rank <= {TOPK_K}
"""


# ======================================================================
# relational coverage (SURVEY §2.8 primitives on the TPC-H-ish tables)
# ======================================================================


def q_rel_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan → filter (pushed) → groupBy agg with map-side partials —
    the classic pricing-summary shape."""
    li = load_table(spark, sf_dir, "lineitem")
    # Money columns are 2-dp doubles; quantize each row to exact integer
    # cents BEFORE summing so the aggregate is an order-independent
    # integer sum (float partial-agg order is partition-dependent and
    # flips round(sum(double), k) near rounding boundaries).
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias(
                "sum_qty_cents"
            ),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).alias("sum_base_price_cents"),
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                ).cast("long")
            ).alias("sum_disc_price_cents"),
            F.avg(F.round(F.col("l_quantity") * 100).cast("long")).alias(
                "avg_qty_cents"
            ),
            F.avg(F.round(F.col("l_discount") * 10000).cast("long")).alias(
                "avg_disc_bp"
            ),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_base_price_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS sum_disc_price_cents,
       avg(CAST(round(l_quantity * 100) AS BIGINT)) AS avg_qty_cents,
       avg(CAST(round(l_discount * 10000) AS BIGINT)) AS avg_disc_bp,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_rel_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join star query: fact ⋈ three broadcast dims + agg. Catalyst
    broadcasts every dim (all far below the 10 MB threshold)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


_SQL_REGION_REVENUE = """
SELECT r_name,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_orders, count(DISTINCT c_custkey) AS n_customers
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_rel_last_ship_per_supplier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """As-of-style: latest shipment per supplier via a ranked window with
    deterministic tiebreaks (the relational form of 'last vintage ≤ t')."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.desc("l_shipdate"), F.desc("l_orderkey"), F.desc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
        )
    )


_SQL_LAST_SHIP = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       strftime(l_shipdate, '%Y-%m-%d') AS ship_date
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY l_suppkey
    ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC
  ) AS rn FROM lineitem
) WHERE rn = 1
"""


def q_feat_user_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity time-ordered feature engineering: lag(1) and a
    trailing 3-row mean per user — the leakage-safe panel feature
    pattern (windows ordered strictly by past rows)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w3 = w.rowsBetween(-3, -1)
    return (
        ev.withColumn("lag_value", F.lag("value", 1).over(w))
        .withColumn("trail3_mean", F.avg("value").over(w3))
        .select(
            "event_id",
            "user_id",
            F.round("lag_value", 6).alias("lag_value"),
            F.round("trail3_mean", 6).alias("trail3_mean"),
        )
    )


_SQL_USER_LAG = """
SELECT event_id, user_id,
       round(lag(value, 1) OVER w, 6) AS lag_value,
       round(avg(value) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING
       ), 6) AS trail3_mean
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q_rel_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (get_json_object) + aggregate — the
    semi-structured column path."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn(
            "k", F.get_json_object("props", "$.k").cast("int")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


_SQL_JSON_PROPS = """
SELECT event_type, count(*) AS n,
       round(avg(CAST(props->>'k' AS INTEGER)), 6) AS avg_k,
       max(CAST(props->>'k' AS INTEGER)) AS max_k
FROM events GROUP BY event_type
"""


def q_rel_hourly_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation (the batch analog of a streaming
    tumbling window): per (day, hour) event count, distinct users, mean
    value."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn("hour", F.hour("ts").cast("long"))
        .groupBy("day", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
            F.avg(F.round(F.col("value") * 100).cast("long")).alias(
                "avg_value_cents"
            ),
        )
    )


_SQL_HOURLY = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       CAST(date_part('hour', ts) AS BIGINT) AS hour,
       count(*) AS n, count(DISTINCT user_id) AS n_users,
       avg(CAST(round(value * 100) AS BIGINT)) AS avg_value_cents
FROM events GROUP BY 1, 2
"""


# ======================================================================
# lineitem-scale CV (month folds over ~7 years — the bench workhorse)
# ======================================================================


def _li_cv(spark: SparkSession, sf_dir: str):
    from .queries import cv_cache_for

    per_session = cv_cache_for(spark)
    key = (sf_dir, "lineitem")
    hit = per_session.get(key)
    if hit is not None:
        return hit
    li = (
        load_table(spark, sf_dir, "lineitem")
        .withColumn("period", F.date_format("l_shipdate", "yyyy-MM"))
    )
    ps = PanelSplit(
        li, "period", n_splits=LI_K, test_size=LI_T,
        max_train_size=LI_MTS,
        scan_col="l_shipdate",
        period_bounds=date_period_bounds("yyyy-MM"),
    )
    per_session[key] = (li, ps)
    return li, ps


# Same TimeSeriesSplit scaffold as queries._FOLD_CTE, month folds over
# the fact table — generated from the shared single definition site
# (oracle_fragments.fold_cte; hash-pinned in test_oracle_conventions).
from .oracle_fragments import fold_cte as _fold_cte_builder  # noqa: E402

_LI_FOLD_CTE = _fold_cte_builder(
    table="lineitem",
    period_expr="strftime(l_shipdate, '%Y-%m')",
    k=LI_K,
    t=LI_T,
    gap=0,
    mts=LI_MTS,
    wrap_rk=True,
    tail="""li AS (
  SELECT l_orderkey, l_linenumber,
         strftime(l_shipdate, '%Y-%m') AS period,
         l_quantity, l_extendedprice
  FROM lineitem
)""",
)


def q_cv_li_ols_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold OLS (extendedprice ~ quantity) over month folds on the
    fact table — the full distributed fit/apply path at bench scale."""
    li, ps = _li_cv(spark, sf_dir)
    preds, _ = cross_val_fit_predict(
        LinearRegression(), li, ["l_quantity"], "l_extendedprice", ps,
        keep_cols=["l_orderkey", "l_linenumber"],
    )
    return preds.select(
        "l_orderkey",
        "l_linenumber",
        F.col("fold_id").cast("long").alias("fold_id"),
        F.round("prediction", 2).alias("pred"),
    )


_SQL_LI_OLS = f"""
WITH {_LI_FOLD_CTE},
fit AS (
  SELECT a.fold_id,
         regr_slope(l.l_extendedprice, l.l_quantity) AS b1,
         regr_intercept(l.l_extendedprice, l.l_quantity) AS b0
  FROM assign a JOIN li l ON l.period = a.period
  WHERE a.role = 'train' GROUP BY a.fold_id
)
SELECT l.l_orderkey, l.l_linenumber, a.fold_id,
       round(f.b0 + f.b1 * l.l_quantity, 2) AS pred
FROM assign a
JOIN li l ON l.period = a.period
JOIN fit f ON f.fold_id = a.fold_id
WHERE a.role = 'test'
"""


def q_cv_li_fold_mse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-fold OOF MSE of the month-fold mean predictor (metrics fast
    path over the big fact table)."""
    li, ps = _li_cv(spark, sf_dir)
    preds, _ = cross_val_fit_predict(
        MeanRegressor(), li, ["l_quantity"], "l_extendedprice", ps,
        keep_cols=["l_extendedprice"],
    )
    return preds.groupBy(
        F.col("fold_id").cast("long").alias("fold_id")
    ).agg(
        F.round(
            F.avg((F.col("l_extendedprice") - F.col("prediction")) ** 2), 2
        ).alias("mse"),
        F.count(F.lit(1)).alias("n"),
    )


_SQL_LI_MSE = f"""
WITH {_LI_FOLD_CTE},
trm AS (
  SELECT a.fold_id, avg(l.l_extendedprice) AS mu
  FROM assign a JOIN li l ON l.period = a.period
  WHERE a.role = 'train' GROUP BY a.fold_id
)
SELECT a.fold_id, round(avg((l.l_extendedprice - t.mu) ^ 2), 2) AS mse,
       count(*) AS n
FROM assign a
JOIN li l ON l.period = a.period
JOIN trm t ON t.fold_id = a.fold_id
WHERE a.role = 'test'
GROUP BY a.fold_id
"""


def q_stream_hourly_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming: readStream over the events
    parquet → watermarked tumbling-window per-user aggregation →
    availableNow trigger draining into a memory sink. Hash-checked
    against the equivalent batch SQL — streaming results must equal the
    batch computation on the same closed input."""
    from .streaming.rolling import (
        drain,
        file_stream,
        memory_sink,
        windowed_panel_features,
    )

    configure(spark)

    # complete-mode windowed agg: counters are a commutative monoid, so
    # ANY chop of the feed drains to the same state (key_col re-chop
    # under the invariance test)
    stream = file_stream(spark, sf_dir, "events", key_col="event_id")
    from .sources.tables import normalize_event_ts

    stream = normalize_event_ts(stream)
    # Quantize to exact integer cents (held in a double) so every
    # streaming aggregate is an exact integer sum — order-independent
    # across micro-batch partial aggregations and engines.
    stream = stream.withColumn("value", F.round(F.col("value") * 100))
    feats = windowed_panel_features(
        stream, window="1 hour", watermark="2 hours"
    )
    name = "stream_hourly_features_sink"
    out = drain(spark, name, lambda: memory_sink(feats, name, "complete"))
    return out.select(
        F.unix_micros("window_start").alias("win_start_us"),
        "user_id",
        "n",
        F.col("sum_value").cast("long").alias("sum_value_cents"),
        F.col("avg_value").alias("avg_value_cents"),
        F.col("min_value").cast("long").alias("min_value_cents"),
        F.col("max_value").cast("long").alias("max_value_cents"),
    )


_SQL_STREAM_HOURLY = """
SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us, user_id,
       count(*) AS n,
       CAST(sum(round(value * 100)) AS BIGINT) AS sum_value_cents,
       avg(round(value * 100)) AS avg_value_cents,
       CAST(min(round(value * 100)) AS BIGINT) AS min_value_cents,
       CAST(max(round(value * 100)) AS BIGINT) AS max_value_cents
FROM events GROUP BY 1, 2
"""


# ======================================================================
# time-series relational ops: sessionization, as-of join, grouping sets
# ======================================================================

SESSION_GAP_S = 21600  # 6 h inactivity ends a session
ASOF_L_TYPE, ASOF_R_TYPE = "purchase", "view"
IVF_CELLS, IVF_PROBE = 8, 2


def q_rel_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch analog of a streaming session
    window): per-user session ids via lag + running sum, then
    per-session aggregates."""
    from .operators.timeseries import sessionize

    ev = load_table(spark, sf_dir, "events")
    s = sessionize(
        ev, ["user_id"], "ts", SESSION_GAP_S, order_cols=["event_id"]
    )
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias(
            "sum_value_cents"
        ),
    )


_SQL_SESSIONIZE = f"""
WITH e AS (
  SELECT user_id, event_id, value, epoch_us(ts) AS t FROM events
),
m AS (
  SELECT *, CASE WHEN t - lag(t) OVER w IS NULL
                   OR t - lag(t) OVER w > {SESSION_GAP_S * 1_000_000}
            THEN 1 ELSE 0 END AS is_new
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
s AS (
  SELECT *, CAST(sum(is_new) OVER (
    PARTITION BY user_id ORDER BY t, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS BIGINT) AS session_id FROM m
)
SELECT user_id, session_id, count(*) AS n_events,
       min(t) AS start_us, max(t) AS end_us,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM s GROUP BY user_id, session_id
"""


def q_rel_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase event picks up the user's most
    recent view event at-or-before it (union + ordered-window merge —
    one shuffle, no inequality join)."""
    from .operators.timeseries import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == ASOF_L_TYPE).select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.where(F.col("event_type") == ASOF_R_TYPE).select(
        F.col("event_id").alias("v_event_id"), "user_id", "ts", "value"
    )
    out = asof_join(
        purchases,
        views.withColumnRenamed("value", "v_value"),
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["v_event_id", "v_value"],
        right_order=["v_event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_v_event_id").alias("view_event_id"),
        F.unix_micros("asof_ts").alias("view_ts_us"),
        F.round("asof_v_value", 6).alias("view_value"),
    )


_SQL_ASOF = f"""
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
    last_value(r_event_id IGNORE NULLS) OVER w AS view_event_id,
    last_value(CASE WHEN is_left = 0 THEN t END IGNORE NULLS)
      OVER w AS view_ts_us,
    last_value(r_value IGNORE NULLS) OVER w AS asof_value
  FROM u
  WINDOW w AS (
    PARTITION BY user_id ORDER BY t, is_left, r_event_id NULLS LAST
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  )
)
SELECT l_event_id AS event_id, user_id, view_event_id, view_ts_us,
       round(asof_value, 6) AS view_value
FROM m WHERE is_left = 1
"""


def q_rel_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets: revenue by (region, nation) with ROLLUP subtotals
    and grand total — partial aggregation handles all grouping sets in
    one shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_SQL_ROLLUP = """
SELECT r_name, n_name,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < TOPK_NQ)
    out = similarity.ivf_topk(
        emb, queries, k=TOPK_K, n_cells=IVF_CELLS, n_probe=IVF_PROBE
    )
    return out.select(
        "query_id", "neighbor_id", "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


_SQL_IVF_TOPK = f"""
WITH cent AS (
  SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < {IVF_CELLS}
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
ca AS (
  SELECT neighbor_id, cv, cell_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY neighbor_id ORDER BY ccos DESC, cell_id
    ) AS rn FROM (
      SELECT neighbor_id, cv, cell_id,
             round(list_cosine_similarity(cv, cvec), 6) AS ccos
      FROM c, cent
    )
  ) WHERE rn = 1
),
q AS (SELECT neighbor_id AS query_id, cv AS qv
      FROM c WHERE neighbor_id < {TOPK_NQ}),
qa AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY ccos DESC, cell_id
    ) AS rn FROM (
      SELECT query_id, qv, cell_id,
             round(list_cosine_similarity(qv, cvec), 6) AS ccos
      FROM q, cent
    )
  ) WHERE rn <= {IVF_PROBE}
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
) WHERE rank <= {TOPK_K}
"""


def q_mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end: binary payload column →
    Arrow-batched metadata decode (deterministic fake codec) →
    frame sampling — oracle-checkable because the fake codec derives
    metadata from md5(payload)."""
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    # keep_cols: only (doc_id, media_meta) cross Python→JVM — the
    # payload bytes cross INTO the decode exactly once and never come
    # back (guide §4.1). The decode output feeds TWO consumers (frame
    # sampling and the final projection); without materialization the
    # opaque mapInPandas subtree is evaluated once per consumer (guide
    # §4.4), so pin the doc-sized post-seam frame once.
    meta = multimodal.with_media_meta(
        payload, decoder=multimodal.fake_decoder, keep_cols=["doc_id"]
    ).localCheckpoint(eager=True)
    frames = (
        multimodal.frame_sample(meta, every_n=2)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )
    return (
        meta.select("doc_id", "media_meta.*")
        .join(frames, "doc_id")
    )


_SQL_MM_META = """
WITH h AS (SELECT doc_id, md5(text) AS m FROM documents),
b AS (
  SELECT doc_id,
    CAST(concat('0x', substr(m, 1, 2)) AS INT) AS h0,
    CAST(concat('0x', substr(m, 3, 2)) AS INT) AS h1,
    CAST(concat('0x', substr(m, 5, 2)) AS INT) AS h2,
    CAST(concat('0x', substr(m, 7, 2)) AS INT) AS h3,
    CAST(concat('0x', substr(m, 9, 4)) AS BIGINT) AS h45
  FROM h
)
SELECT doc_id,
  ['jpeg', 'png', 'webp', 'wav'][(h0 % 4) + 1] AS format,
  CAST(64 + (h1 % 64) * 16 AS INT) AS width,
  CAST(64 + (h2 % 64) * 16 AS INT) AS height,
  CAST(1 + (h3 % 8) AS INT) AS n_frames,
  h45 AS duration_ms,
  CAST((h3 % 8) // 2 + 1 AS BIGINT) AS n_sampled
FROM b
"""


QUERIES2: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_jaccard_lsh": q_dedup_jaccard_lsh,
    "dedup_containment": q_dedup_containment,
    "dedup_containment_lsh": q_dedup_containment_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "emb_near_dup": q_emb_near_dup,
    "text_stats": q_text_stats,
    "text_langid": q_text_langid,
    "text_fingerprint": q_text_fingerprint,
    "sim_cosine_topk": q_sim_cosine_topk,
    "sim_lsh_topk": q_sim_lsh_topk,
    "rel_pricing_summary": q_rel_pricing_summary,
    "rel_region_revenue": q_rel_region_revenue,
    "rel_last_ship_per_supplier": q_rel_last_ship_per_supplier,
    "rel_json_props": q_rel_json_props,
    "rel_hourly_activity": q_rel_hourly_activity,
    "feat_user_lag": q_feat_user_lag,
    "stream_hourly_features": q_stream_hourly_features,
    "rel_sessionize": q_rel_sessionize,
    "rel_asof_join": q_rel_asof_join,
    "rel_rollup_revenue": q_rel_rollup_revenue,
    "sim_ivf_topk": q_sim_ivf_topk,
    "mm_media_meta": q_mm_media_meta,
    "cv_li_ols_oof": q_cv_li_ols_oof,
    "cv_li_fold_mse": q_cv_li_fold_mse,
}

ORACLES2: Dict[str, str] = {
    "dedup_exact": _SQL_DEDUP_EXACT,
    "dedup_minhash_lsh": _sql_minhash_lsh(),
    "dedup_jaccard": _SQL_DEDUP_JACCARD,
    "dedup_jaccard_lsh": _sql_jaccard_lsh(),
    "dedup_containment": _sql_containment(),
    "dedup_containment_lsh": _sql_containment_lsh(),
    "dedup_simhash": _sql_simhash(),
    "dedup_simhash_pairs": _sql_simhash_pairs(),
    "emb_near_dup": _sql_emb_near_dup(),
    "text_stats": _sql_text_stats(),
    "text_langid": _sql_langid(),
    "text_fingerprint": _SQL_FINGERPRINT,
    "sim_cosine_topk": _SQL_COSINE_TOPK,
    "sim_lsh_topk": _sql_lsh_topk(),
    "rel_pricing_summary": _SQL_PRICING,
    "rel_region_revenue": _SQL_REGION_REVENUE,
    "rel_last_ship_per_supplier": _SQL_LAST_SHIP,
    "rel_json_props": _SQL_JSON_PROPS,
    "rel_hourly_activity": _SQL_HOURLY,
    "feat_user_lag": _SQL_USER_LAG,
    "stream_hourly_features": _SQL_STREAM_HOURLY,
    "rel_sessionize": _SQL_SESSIONIZE,
    "rel_asof_join": _SQL_ASOF,
    "rel_rollup_revenue": _SQL_ROLLUP,
    "sim_ivf_topk": _SQL_IVF_TOPK,
    "mm_media_meta": _SQL_MM_META,
    "cv_li_ols_oof": _SQL_LI_OLS,
    "cv_li_fold_mse": _SQL_LI_MSE,
}
