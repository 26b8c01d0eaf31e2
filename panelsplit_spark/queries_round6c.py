"""Round-6 part C (part 16, split out of part 15 in round 7): corpus
science and training-data pipeline queries — Heaps'-law vocabulary
growth, Church-Gale burstiness, duplicate-8-gram memorization rate,
MOSS winnowing fingerprints, source-pair Jensen-Shannon divergence,
equal-share epoch repetition, content-addressed epoch shuffle order,
tokenizer fertility, mix entropy, MMR diversity re-ranking,
Mahalanobis embedding outliers, IVF probe-sweep tuning curve,
modality balance, AV-sync alignment manifest, duplicate-cluster size
telemetry, and the storage-clustering scan-pruning audit.

Same contract as every part file: each Spark query is paired with a
byte-hash-equal DuckDB oracle over the same parquet; exact-integer
carriers up to a final double division.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from .operators.timeseries import (
    dec38 as _dec,
    exact_comoment,
    exact_line,
)


# ======================================================================
# text_heaps_fit — Heaps'-law vocabulary-growth fit
# ======================================================================

from .sources.tables import load_table  # noqa: E402


def q_text_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit (Heaps 1978): V(N) ≈ K·N^β — how fast the corpus
    vocabulary grows as documents stream in, the companion diagnostic
    to text_zipf_fit (β ≈ 0.4-0.6 for natural text; β → 1 smells of
    noise/IDs, β → 0 of template spam). Checkpoints are per-document in
    doc_id order: V_d counts terms whose FIRST occurrence (min doc_id —
    an exact, order-free aggregate) is ≤ d, N_d is the running token
    count. ln N / ln V are micro-quantized before the moment sums, so
    the slope is one double division of decimal-exact integers (the
    zipf discipline, operators.timeseries.exact_line). Shape: one
    token explode, one per-term min, one per-doc rollup + cumulative
    window over the PER-DOC frame (state = n_docs rows, never facts —
    past ~10^8 docs swap the window for the range-bucketed distributed
    rank)."""
    from .functions.hashing import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(word_tokens(F.col("text"))).alias("term")
    )
    new_terms = (
        tok.groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("nv"))
        .withColumnRenamed("first_doc", "doc_id")
    )
    toks = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nt"))
    w = (
        Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pts = (
        toks.join(new_terms, "doc_id", "left")
        .select(
            "doc_id",
            F.col("nt"),
            F.coalesce("nv", F.lit(0)).alias("nv"),
        )
        .select(
            F.sum("nt").over(w).alias("bign"),
            F.sum("nv").over(w).alias("bigv"),
        )
        .where((F.col("bign") > 0) & (F.col("bigv") > 0))
        .select(
            F.round(F.log(F.col("bign").cast("double")) * F.lit(1000000))
            .cast("long")
            .alias("lx"),
            F.round(F.log(F.col("bigv").cast("double")) * F.lit(1000000))
            .cast("long")
            .alias("ly"),
        )
    )
    m = pts.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(_dec(F.col("lx")) * F.col("lx")).alias("sxx"),
        F.sum(_dec(F.col("lx")) * F.col("ly")).alias("sxy"),
    )
    beta, lnk = exact_line("n", "sx", "sy", "sxx", "sxy")
    return m.select(
        F.col("n").alias("n_checkpoints"),
        beta.alias("heaps_beta"),
        lnk.alias("heaps_lnk_micro"),
    )


_SQL_HEAPS_FIT = """
WITH tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
new_terms AS (
  SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS nv
  FROM (SELECT term, min(doc_id) AS first_doc FROM tok GROUP BY term) f
  GROUP BY first_doc
),
toks AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS nt FROM tok GROUP BY doc_id
),
cumul AS (
  SELECT sum(t.nt) OVER (ORDER BY t.doc_id ROWS UNBOUNDED PRECEDING)
           AS bign,
         sum(coalesce(n.nv, 0))
           OVER (ORDER BY t.doc_id ROWS UNBOUNDED PRECEDING) AS bigv
  FROM toks t LEFT JOIN new_terms n USING (doc_id)
),
pts AS (
  SELECT CAST(round(ln(bign::DOUBLE) * 1000000) AS BIGINT) AS lx,
         CAST(round(ln(bigv::DOUBLE) * 1000000) AS BIGINT) AS ly
  FROM cumul WHERE bign > 0 AND bigv > 0
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(lx) AS BIGINT) AS sx,
         CAST(sum(ly) AS BIGINT) AS sy,
         sum(CAST(lx AS HUGEINT) * lx) AS sxx,
         sum(CAST(lx AS HUGEINT) * ly) AS sxy
  FROM pts
)
SELECT n AS n_checkpoints,
       (CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)::DOUBLE
         / (CAST(n AS HUGEINT) * sxx
            - CAST(sx AS HUGEINT) * sx)::DOUBLE AS heaps_beta,
       (sy::DOUBLE
        - ((CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)::DOUBLE
           / (CAST(n AS HUGEINT) * sxx
              - CAST(sx AS HUGEINT) * sx)::DOUBLE) * sx::DOUBLE)
         / n::DOUBLE AS heaps_lnk_micro
FROM m
"""

# ======================================================================
# text_burstiness — per-term Fano factor (Church-Gale burstiness)
# ======================================================================

_BURST_MIN_DF = 5
_BURST_TOPK = 20


def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness via the Fano factor (Church & Gale 1995): a
    term whose occurrences CLUMP into few documents (names, topics,
    boilerplate runs) has variance ≫ mean across per-doc counts, while
    function words sit near Poisson (Fano ≈ 1). Over all D docs with
    zero-docs included: Fano = (D·Σc² − (Σc)²) / (D·Σc) — an exact
    integer ratio; ranking uses the ppb-scaled integer quotient with a
    term tiebreak so the top-k is value-deterministic cross-engine.
    The curation use: high-Fano high-df terms are boilerplate/template
    candidates that document-frequency alone misses. Shape: one token
    explode + per-(doc,term) count + per-term rollup; the constant D
    rides in as a broadcast scalar."""
    from .functions.hashing import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.groupBy().agg(F.count(F.lit(1)).alias("bigd"))
    per = (
        docs.select(
            "doc_id", F.explode(word_tokens(F.col("text"))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = per.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("c").alias("tf"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    j = stats.crossJoin(F.broadcast(n_docs)).where(
        F.col("df") >= _BURST_MIN_DF
    )
    fano_num = exact_comoment("bigd", "tf", "tf", "s2")
    fano_den = _dec(F.col("bigd")) * F.col("tf")
    scored = j.select(
        "term",
        "df",
        "tf",
        "s2",
        (fano_num * 1000000000)
        .cast("decimal(38,0)")
        .alias("_n9"),
        fano_den.alias("_d"),
    ).select(
        "term",
        "df",
        "tf",
        "s2",
        # integer FLOOR division (the numerator is ≥ 0 by
        # Cauchy-Schwarz) to match DuckDB's `//` — a decimal divide
        # would round half-up and drift the last ppb digit
        F.expr("_n9 div _d").cast("long").alias("fano_ppb"),
    )
    return (
        scored.orderBy(F.desc("fano_ppb"), F.asc("term"))
        .limit(_BURST_TOPK)
        .select("term", "df", "tf", "s2", "fano_ppb")
    )


_SQL_BURSTINESS = f"""
WITH per AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents) t
  GROUP BY doc_id, term
),
stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(c) AS BIGINT) AS tf,
         CAST(sum(c * c) AS BIGINT) AS s2
  FROM per GROUP BY term
),
d AS (SELECT CAST(count(*) AS BIGINT) AS bigd FROM documents)
SELECT term, df, tf, s2,
       CAST((CAST(bigd AS HUGEINT) * s2 - CAST(tf AS HUGEINT) * tf)
            * 1000000000
            // (CAST(bigd AS HUGEINT) * tf) AS BIGINT) AS fano_ppb
FROM stats, d
WHERE df >= {_BURST_MIN_DF}
ORDER BY fano_ppb DESC, term ASC
LIMIT {_BURST_TOPK}
"""

# ======================================================================
# pipe_epoch_mix — repetition schedule under a token budget
# ======================================================================

_MIX_MAX_EPOCHS = 4


def q_pipe_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix repetition schedule: give every source an EQUAL
    share of the token budget (budget = total corpus tokens, the
    one-epoch-equivalent), repeating small sources up to
    {max_epochs}× to fill their share — the 'upsample small
    high-quality sources by extra epochs' knob every LLM data mix has
    (cf. the public Llama/Gopher data-mix descriptions). All integer
    arithmetic: share = budget div n_sources, epochs = min(max_epochs,
    ceil(share/tokens)), used = min(share, epochs·tokens), shortfall =
    share − used (> 0 ⇔ the cap bit). ONE per-source rollup + a
    broadcast 1-row total; nothing scales past the source count."""
    from .functions.hashing import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    src = docs.select(
        "source", F.size(word_tokens(F.col("text"))).alias("nt")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("tokens"),
    )
    tot = src.groupBy().agg(
        F.sum("tokens").alias("budget"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    j = src.crossJoin(F.broadcast(tot))
    share = F.expr("budget div n_sources")
    epochs = F.least(
        F.lit(_MIX_MAX_EPOCHS),
        F.expr(f"(budget div n_sources + tokens - 1) div tokens"),
    )
    used = F.least(share, epochs * F.col("tokens"))
    return j.select(
        "source",
        "n_docs",
        "tokens",
        share.alias("share"),
        epochs.alias("epochs"),
        used.alias("used_tokens"),
        (share - used).alias("shortfall"),
    ).orderBy("source")


def _sql_epoch_mix() -> str:
    return f"""
WITH src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(string_split(lower(text), ' '))) AS BIGINT)
           AS tokens
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(tokens) AS BIGINT) AS budget,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM src
)
SELECT source, n_docs, tokens,
       budget // n_sources AS share,
       LEAST({_MIX_MAX_EPOCHS},
             (budget // n_sources + tokens - 1) // tokens) AS epochs,
       LEAST(budget // n_sources,
             LEAST({_MIX_MAX_EPOCHS},
                   (budget // n_sources + tokens - 1) // tokens)
               * tokens) AS used_tokens,
       budget // n_sources
         - LEAST(budget // n_sources,
                 LEAST({_MIX_MAX_EPOCHS},
                       (budget // n_sources + tokens - 1) // tokens)
                   * tokens) AS shortfall
FROM src, tot
ORDER BY source
"""

# ======================================================================
# sim_mmr_rerank — diversity-aware retrieval re-ranking
# ======================================================================

_MMR_K = 8
_MMR_LAM = 0.7
_MMR_OML = 0.3


def q_sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR re-ranking over the embeddings table (operators/
    similarity.mmr_rerank): 8 results that are relevant to the
    md5-seeded query but mutually diverse — λ·relevance −
    (1−λ)·max-similarity-to-already-picked, every cosine 6dp-rounded
    with id tiebreaks (the kcenter determinism contract). The oracle
    replays all rounds as chained CTEs."""
    from .operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    return mmr_rerank(
        emb, _MMR_K, lam=_MMR_LAM, one_minus_lam=_MMR_OML
    )


def _sql_mmr_rerank() -> str:
    parts = ["""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
q AS (
  SELECT id, x FROM (
    SELECT id, x, md5(CAST(id AS VARCHAR)) AS h FROM v
  ) t ORDER BY h, id LIMIT 1
),
rels AS MATERIALIZED (
  SELECT v.id, v.x, round(list_cosine_similarity(v.x, q.x), 6) AS rel
  FROM v, q WHERE v.id <> q.id
),
sel0 AS MATERIALIZED (
  SELECT id, 0 AS rk, rel, CAST(NULL AS DOUBLE) AS score
  FROM rels ORDER BY rel DESC, id LIMIT 1
)"""]
    for i in range(1, _MMR_K):
        parts.append(f""",
pick{i} AS (
  SELECT c.id, {i} AS rk, c.rel,
         round({_MMR_LAM!r} * c.rel - {_MMR_OML!r} * c.smax, 6) AS score
  FROM (
    SELECT r.id, r.rel,
           max(round(list_cosine_similarity(r.x, s.x), 6)) AS smax
    FROM rels r JOIN v s ON s.id IN (SELECT id FROM sel{i - 1})
    WHERE r.id NOT IN (SELECT id FROM sel{i - 1})
    GROUP BY r.id, r.rel
  ) c
  ORDER BY round({_MMR_LAM!r} * c.rel - {_MMR_OML!r} * c.smax, 6) DESC,
           c.id LIMIT 1
),
sel{i} AS MATERIALIZED (
  SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM pick{i})""")
    parts.append(f"""
SELECT CAST(rk AS INTEGER) AS sel_rank, id AS vec_id, rel,
       score AS score_at_pick
FROM sel{_MMR_K - 1}
""")
    return "".join(parts)

# ======================================================================
# emb_maha_outlier — per-label diagonal Mahalanobis outlier audit
# ======================================================================

_MAHA_TOPK = 10


def q_emb_maha_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier audit: per label, the diagonal
    Mahalanobis distance of each vector to its label's Gaussian —
    the curation gate that catches corrupt/mislabeled embeddings a
    norm check misses. Components micro-quantize to integers, so each
    per-(label, dim) moment (n, Σq, Σq²) is exact; the per-dim z² is
    ONE double division of exact integers ((q·n − s)² / (n·s2 − s²)
    — the n-scaled identity avoids any mean float), nano-quantized to
    a long so the 64-dim sum is an EXACT integer in any partition
    order. Top-10 by (maha_nano desc, vec_id). Shape: one posexplode
    + one (label,dim) moment rollup broadcast back + one per-vector
    sum — two shuffles at any scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding")).alias("j", "val"),
    ).select(
        "vec_id",
        "label",
        "j",
        F.round(F.col("val").cast("double") * 1000000)
        .cast("long")
        .alias("qv"),
    )
    mom = comp.groupBy("label", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qv").alias("s"),
        F.sum(_dec(F.col("qv")) * F.col("qv")).alias("s2"),
    )
    j = comp.join(F.broadcast(mom), ["label", "j"])
    dev = _dec(F.col("qv")) * F.col("n") - _dec(F.col("s"))
    var_num = exact_comoment("n", "s", "s", "s2")
    z2_nano = F.round(
        (dev * dev * F.lit(1000000000)).cast("double")
        / var_num.cast("double")
    ).cast("long")
    per_vec = j.select(
        "vec_id", "label", z2_nano.alias("z2n")
    ).groupBy("vec_id", "label").agg(
        F.sum("z2n").alias("maha_nano"),
        F.count(F.lit(1)).alias("n_dims"),
    )
    return (
        per_vec.orderBy(F.desc("maha_nano"), F.asc("vec_id"))
        .limit(_MAHA_TOPK)
        .select("vec_id", "label", "maha_nano", "n_dims")
    )


_SQL_MAHA_OUTLIER = f"""
WITH comp AS (
  SELECT vec_id, label, j - 1 AS j,
         CAST(round(CAST(embedding[j] AS DOUBLE) * 1000000) AS BIGINT)
           AS qv
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS t(j)
),
mom AS (
  SELECT label, j, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qv) AS BIGINT) AS s,
         sum(CAST(qv AS HUGEINT) * qv) AS s2
  FROM comp GROUP BY label, j
),
z AS (
  SELECT c.vec_id, c.label,
         CAST(round(
           ((CAST(c.qv AS HUGEINT) * m.n - m.s)
            * (CAST(c.qv AS HUGEINT) * m.n - m.s)
            * 1000000000)::DOUBLE
           / (CAST(m.n AS HUGEINT) * m.s2
              - CAST(m.s AS HUGEINT) * m.s)::DOUBLE
         ) AS BIGINT) AS z2n
  FROM comp c JOIN mom m USING (label, j)
)
SELECT vec_id, label, CAST(sum(z2n) AS BIGINT) AS maha_nano,
       count(*) AS n_dims
FROM z GROUP BY vec_id, label
ORDER BY maha_nano DESC, vec_id ASC
LIMIT {_MAHA_TOPK}
"""

# ======================================================================
# pipe_token_fertility — tokenizer fertility by language
# ======================================================================

_FERT_CHAR_NGRAM = 4


def q_pipe_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit by language: subword-proxy tokens per
    whitespace word — THE standard multilingual-tokenizer health
    metric (fertility ≫ 1 for a language means its text costs
    disproportionate sequence length; the motivation for
    vocabulary-balance work in every multilingual LLM paper). The
    subword proxy counts ceil(len/4) units per word (a fixed-width
    stand-in for a BPE segmenter — the real segmenter plugs into the
    same rollup via operators/bpe.py); fertility is emitted as an
    exact integer permille quotient plus its exact numerator/
    denominator. ONE explode + per-language aggregate."""
    from .functions.hashing import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.explode(word_tokens(F.col("text"))).alias("w"),
    ).where(F.length("w") > 0).select(
        "lang",
        F.expr(
            f"(length(w) + {_FERT_CHAR_NGRAM - 1}) div {_FERT_CHAR_NGRAM}"
        ).alias("units"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("units").alias("n_units"),
        )
        .select(
            "lang",
            "n_words",
            "n_units",
            F.expr("(n_units * 1000) div n_words").alias(
                "fertility_permille"
            ),
        )
        .orderBy("lang")
    )


_SQL_TOKEN_FERTILITY = f"""
WITH per AS (
  SELECT lang,
         (length(w) + {_FERT_CHAR_NGRAM - 1}) // {_FERT_CHAR_NGRAM}
           AS units
  FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
        FROM documents) t
  WHERE length(w) > 0
)
SELECT lang, count(*) AS n_words,
       CAST(sum(units) AS BIGINT) AS n_units,
       CAST(sum(units) AS BIGINT) * 1000 // count(*)
         AS fertility_permille
FROM per GROUP BY lang ORDER BY lang
"""

# ======================================================================
# text_winnowing — MOSS winnowing fingerprints + overlap pairs
# ======================================================================

_WIN_K = 4   # shingle width (words)
_WIN_W = 5   # winnowing window (shingles); guarantee t = K + W - 1
_WIN_CAP = 20   # stop-fingerprint df cap (bounds the pair join)
_WIN_MIN_SHARED = 2
_WIN_TOPK = 20


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fp): the winnowed fingerprint set of each document —
    the window-min selection over hashed k-gram shingles (full
    windows only). Split out so the guarantee property (any shared
    run of ≥ k+w−1 words surfaces a shared fingerprint) is testable
    on planted frames."""
    from .functions.hashing import (
        MINHASH_P,
        md5_long,
        word_ngrams,
        word_tokens,
    )

    sh = docs.select(
        "doc_id",
        F.posexplode(
            word_ngrams(word_tokens(F.col("text")), _WIN_K)
        ).alias("pos", "shingle"),
    ).select(
        "doc_id",
        "pos",
        (md5_long(F.col("shingle")) % F.lit(MINHASH_P)).alias("h"),
    )
    wfwd = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    wn = Window.partitionBy("doc_id")
    return (
        sh.select(
            "doc_id",
            "pos",
            F.min("h").over(wfwd).alias("fp"),
            F.count(F.lit(1)).over(wn).alias("n_sh"),
        )
        # full windows only (0-based start positions 0 .. n_sh − w)
        .where(F.col("pos") <= F.col("n_sh") - _WIN_W)
        .select("doc_id", "fp")
        .distinct()
    )


def q_text_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm, public method): slide a w-shingle
    window over each document's hashed k-gram sequence and keep each
    window's MINIMUM hash — any shared substring of ≥ k+w−1 words is
    GUARANTEED to surface a shared fingerprint, at ~2/(w+1) of the
    shingle storage. Pairs of documents sharing ≥ 2 winnowed
    fingerprints are overlap candidates (the plagiarism/near-dup
    shape that single-min fingerprinting misses). Selection is by
    VALUE (window min), so the fingerprint set is partition- and
    order-independent; fingerprints shared by > cap docs are dropped
    stop-key style so the pair join stays bounded (the df-cap
    discipline every similarity path here uses). Shape: one
    posexplode + one doc-keyed forward window + distinct + capped
    equi-join."""
    docs = load_table(spark, sf_dir, "documents")
    # three consumers (df counts, both pair sides) would each replay
    # the explode+window chain — pin the fingerprint set
    fps = winnow_fingerprints(docs).localCheckpoint(eager=True)
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= _WIN_CAP))
    )
    pruned = fps.join(rare, "fp")
    a = pruned.select(F.col("fp"), F.col("doc_id").alias("a"))
    b = pruned.select(F.col("fp"), F.col("doc_id").alias("b"))
    pairs = (
        a.join(b, "fp")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= _WIN_MIN_SHARED)
    )
    return (
        pairs.orderBy(F.desc("n_shared"), F.asc("a"), F.asc("b"))
        .limit(_WIN_TOPK)
        .select("a", "b", "n_shared")
    )


def _sql_winnowing() -> str:
    from .functions.hashing import MINHASH_P
    from .queries_data import _duck_md5_long, _DUCK_TOKS

    return f"""
WITH sh AS (
  SELECT doc_id, u.pos,
         {_duck_md5_long('u.s')} % {MINHASH_P} AS h
  FROM (
    SELECT doc_id,
           unnest([{{'pos': i,
                     's': array_to_string(t[i:i+{_WIN_K - 1}], ' ')}}
                   for i in range(1, greatest(len(t)-{_WIN_K - 1}, 0)+1)])
             AS u
    FROM (SELECT doc_id, {_DUCK_TOKS} AS t FROM documents) d
  ) s
),
fps AS (
  SELECT DISTINCT doc_id, fp FROM (
    SELECT doc_id, pos,
           min(h) OVER (PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN CURRENT ROW
                        AND {_WIN_W - 1} FOLLOWING) AS fp,
           count(*) OVER (PARTITION BY doc_id) AS n_sh
    FROM sh
  ) w
  WHERE pos <= n_sh - {_WIN_W - 1}
),
rare AS (
  SELECT fp FROM fps GROUP BY fp
  HAVING count(*) >= 2 AND count(*) <= {_WIN_CAP}
),
pruned AS (SELECT f.doc_id, f.fp FROM fps f JOIN rare USING (fp)),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
  FROM pruned x JOIN pruned y ON x.fp = y.fp AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
  HAVING count(*) >= {_WIN_MIN_SHARED}
)
SELECT a, b, n_shared FROM pairs
ORDER BY n_shared DESC, a ASC, b ASC
LIMIT {_WIN_TOPK}
"""

# ======================================================================
# src_sorted_clustering — storage clustering vs scan-pruning audit
# ======================================================================

_CLU_PROBE_DAY = 1275
_CLU_EPOCH = "1992-01-01"


def q_src_sorted_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-clustering audit: the SAME lineitem facts written twice
    — range-bucketed + sorted by ship-day vs hash-scattered — then
    judged purely from parquet FOOTER statistics: per layout, the row
    groups, the summed min/max day span, and how many row groups a
    one-day probe predicate can SKIP. This is the 100 TB lever behind
    Z-order/cluster-by: identical bytes of data, but the clustered
    layout's zone maps prune all but one row group while the scattered
    layout prunes none. Audit frame = driver-side footer census
    (pyarrow; KBs), never a data scan; the DuckDB oracle reads the
    SAME files through parquet_metadata()."""
    import os
    import shutil

    import pyarrow.parquet as pq

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff(
            F.col("l_shipdate"), F.lit(_CLU_EPOCH).cast("date")
        ).cast("long").alias("d"),
    )
    base = os.path.join(os.getcwd(), "spark-warehouse", "sinks", "clustering")
    shutil.rmtree(base, ignore_errors=True)
    (
        li.repartition(4, F.expr("d div 700"))
        .sortWithinPartitions("d")
        .write.parquet(os.path.join(base, "v_clustered"))
    )
    li.repartition(4, F.col("l_orderkey")).write.parquet(
        os.path.join(base, "v_scattered")
    )

    rows = []
    for layout in ("v_clustered", "v_scattered"):
        d = os.path.join(base, layout)
        n_rg = span = prunable = 0
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            names = [
                md.schema.column(j).name for j in range(md.num_columns)
            ]
            j = names.index("d")
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(j).statistics
                n_rg += 1
                span += int(st.max) - int(st.min) + 1
                if not (int(st.min) <= _CLU_PROBE_DAY <= int(st.max)):
                    prunable += 1
        rows.append((layout, n_rg, span, prunable))
    return spark.createDataFrame(
        rows, "layout string, n_rowgroups long, span_days long,"
        " n_prunable long"
    )


def _sql_sorted_clustering() -> str:
    parts = []
    for layout in ("v_clustered", "v_scattered"):
        parts.append(f"""
  SELECT '{layout}' AS layout, CAST(count(*) AS BIGINT) AS n_rowgroups,
         CAST(sum(CAST(stats_max_value AS BIGINT)
                  - CAST(stats_min_value AS BIGINT) + 1) AS BIGINT)
           AS span_days,
         CAST(sum(CASE WHEN CAST(stats_min_value AS BIGINT)
                            <= {_CLU_PROBE_DAY}
                        AND CAST(stats_max_value AS BIGINT)
                            >= {_CLU_PROBE_DAY}
                  THEN 0 ELSE 1 END) AS BIGINT) AS n_prunable
  FROM parquet_metadata('spark-warehouse/sinks/clustering/{layout}/*.parquet')
  WHERE path_in_schema = 'd'""")
    return "\nUNION ALL\n".join(parts)

# ======================================================================
# mm_av_sync_plan — audio/video alignment manifest from decoded meta
# ======================================================================

_AV_SEG_MS = 2000   # video keyframe segment length
_AV_WIN_MS = 500    # audio window hop
_AV_DOCS = 40       # manifest slice emitted by the gate


def q_mm_av_sync_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video alignment manifest: for every media payload, the
    keyframe-segment rows a video-LM preprocessor would cut, each
    carrying how many audio windows land inside it — computed from
    DECODED METADATA only (duration via the deterministic fake codec
    through the real mapInPandas seam; sample extraction happens later
    against exactly these rows). Segments are ⌈duration/2s⌉ clamped to
    the duration; audio windows are the global 500 ms grid assigned by
    integer division — every quantity exact integer arithmetic. The
    planning half of AV-sync at 100 TB: alignment is ROWS (joinable,
    shardable by (doc, seg)), pixels/samples stay deferred."""
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _AV_DOCS
    )
    payload = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    meta = multimodal.with_media_meta(
        payload, decoder=multimodal.fake_decoder, keep_cols=["doc_id"]
    ).select(
        "doc_id",
        F.col("media_meta.duration_ms").cast("long").alias("dur"),
    ).where(F.col("dur") > 0)
    segs = meta.select(
        "doc_id",
        "dur",
        F.explode(
            F.expr(
                f"sequence(CAST(0 AS BIGINT),"
                f" (dur + {_AV_SEG_MS - 1}) div {_AV_SEG_MS} - 1)"
            )
        ).alias("seg"),
    )
    seg_start = F.col("seg") * _AV_SEG_MS
    seg_end = F.least(
        (F.col("seg") + 1) * F.lit(_AV_SEG_MS).cast("long"), F.col("dur")
    )
    # audio windows: global 500 ms grid, window w covers
    # [w·500, (w+1)·500); assigned to segment (w·500) div 2000 —
    # count = windows starting in [seg_start, seg_end)
    n_win = F.expr(
        f"(least((seg + 1) * {_AV_SEG_MS}, dur) + {_AV_WIN_MS - 1})"
        f" div {_AV_WIN_MS} - (seg * {_AV_SEG_MS}) div {_AV_WIN_MS}"
    )
    return segs.select(
        "doc_id",
        "seg",
        seg_start.alias("seg_start_ms"),
        seg_end.alias("seg_end_ms"),
        n_win.alias("n_audio_windows"),
    ).orderBy("doc_id", "seg")


def _sql_av_sync_plan() -> str:
    return f"""
WITH h AS (
  SELECT doc_id, md5(text) AS m FROM documents WHERE doc_id < {_AV_DOCS}
),
meta AS (
  SELECT doc_id,
         CAST(concat('0x', substr(m, 9, 4)) AS BIGINT) AS dur
  FROM h
),
segs AS (
  SELECT doc_id, dur, unnest(range(0, (dur + {_AV_SEG_MS - 1})
                                      // {_AV_SEG_MS})) AS seg
  FROM meta WHERE dur > 0
)
SELECT doc_id, CAST(seg AS BIGINT) AS seg,
       CAST(seg * {_AV_SEG_MS} AS BIGINT) AS seg_start_ms,
       CAST(LEAST((seg + 1) * {_AV_SEG_MS}, dur) AS BIGINT)
         AS seg_end_ms,
       CAST((LEAST((seg + 1) * {_AV_SEG_MS}, dur) + {_AV_WIN_MS - 1})
              // {_AV_WIN_MS}
            - (seg * {_AV_SEG_MS}) // {_AV_WIN_MS} AS BIGINT)
         AS n_audio_windows
FROM segs
ORDER BY doc_id, seg
"""

# ======================================================================
# text_jsd_sources — pairwise Jensen-Shannon divergence between sources
# ======================================================================

_JSD_V = 200    # vocabulary cap: distributions restricted to top-V terms
_JSD_TOPK = 20


def q_text_jsd_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source unigram
    distributions (Lin 1991) — the training-mix diversity audit: which
    sources say the same things (JSD → 0, dedup/reweight candidates)
    and which bring genuinely different text. Distributions are
    restricted to the global top-{V} vocabulary (value-deterministic
    cap, the df-cap discipline), so the pair computation runs on a
    |sources|×V dense frame — NEVER on the corpus. Each term's
    p·ln(2p/(p+q)) takes ln of ONE ratio of exact integer products
    (2·c_a·t_b / (c_a·t_b + c_b·t_a)) and is nano-quantized before the
    per-pair sum, so the divergence is an exact integer in any
    partition order. Output: the top-{k} most-divergent pairs
    (2·JSD in nano-nats)."""
    from .functions.hashing import word_tokens

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "source", F.explode(word_tokens(F.col("text"))).alias("term")
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wtop = Window.orderBy(F.desc("gc"), F.asc("term"))
    top = (
        tf.groupBy("term")
        .agg(F.sum("c").alias("gc"))
        .withColumn("r", F.row_number().over(wtop))
        .where(F.col("r") <= _JSD_V)
        .select("term")
    )
    sources = docs.select("source").distinct()
    dense = (
        sources.crossJoin(F.broadcast(top))
        .join(tf, ["source", "term"], "left")
        .select(
            "source", "term", F.coalesce("c", F.lit(0)).alias("c")
        )
    )
    tot = dense.groupBy("source").agg(F.sum("c").alias("t"))
    dense = dense.join(F.broadcast(tot), "source").localCheckpoint(
        eager=True
    )
    a = dense.select(
        F.col("source").alias("sa"),
        "term",
        F.col("c").alias("ca"),
        F.col("t").alias("ta"),
    )
    b = dense.select(
        F.col("source").alias("sb"),
        "term",
        F.col("c").alias("cb"),
        F.col("t").alias("tb"),
    )
    j = a.join(b, "term").where(F.col("sa") < F.col("sb"))

    def side(c_own, t_own, c_oth, t_oth):
        num = F.lit(2) * _dec(c_own) * t_oth
        den = _dec(c_own) * t_oth + _dec(c_oth) * t_own
        return F.when(
            c_own > 0,
            F.round(
                (c_own.cast("double") / t_own.cast("double"))
                * F.log(num.cast("double") / den.cast("double"))
                * F.lit(1000000000)
            ).cast("long"),
        ).otherwise(F.lit(0))

    terms = j.select(
        "sa",
        "sb",
        (
            side(F.col("ca"), F.col("ta"), F.col("cb"), F.col("tb"))
            + side(F.col("cb"), F.col("tb"), F.col("ca"), F.col("ta"))
        ).alias("contrib"),
    )
    pairs = terms.groupBy("sa", "sb").agg(
        F.sum("contrib").alias("jsd2_nano"),
        F.count(F.lit(1)).alias("n_terms"),
    )
    return (
        pairs.orderBy(F.desc("jsd2_nano"), F.asc("sa"), F.asc("sb"))
        .limit(_JSD_TOPK)
        .select("sa", "sb", "jsd2_nano", "n_terms")
    )


def _sql_jsd_sources() -> str:
    return f"""
WITH tf AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS term
        FROM documents) x
  GROUP BY source, term
),
top AS (
  SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY sum(c) DESC, term ASC) AS r
    FROM tf GROUP BY term
  ) WHERE r <= {_JSD_V}
),
dense AS MATERIALIZED (
  SELECT s.source, t.term, coalesce(f.c, 0) AS c
  FROM (SELECT DISTINCT source FROM documents) s
  CROSS JOIN top t
  LEFT JOIN tf f ON f.source = s.source AND f.term = t.term
),
tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS t FROM dense GROUP BY source),
d2 AS MATERIALIZED (
  SELECT dense.source, dense.term, dense.c, tot.t
  FROM dense JOIN tot USING (source)
),
j AS (
  SELECT a.source AS sa, b.source AS sb,
         a.c AS ca, a.t AS ta, b.c AS cb, b.t AS tb
  FROM d2 a JOIN d2 b ON a.term = b.term AND a.source < b.source
),
terms AS (
  SELECT sa, sb,
         (CASE WHEN ca > 0 THEN CAST(round(
            (ca::DOUBLE / ta::DOUBLE)
            * ln((2 * CAST(ca AS HUGEINT) * tb)::DOUBLE
                 / (CAST(ca AS HUGEINT) * tb
                    + CAST(cb AS HUGEINT) * ta)::DOUBLE)
            * 1000000000) AS BIGINT) ELSE 0 END)
         + (CASE WHEN cb > 0 THEN CAST(round(
            (cb::DOUBLE / tb::DOUBLE)
            * ln((2 * CAST(cb AS HUGEINT) * ta)::DOUBLE
                 / (CAST(cb AS HUGEINT) * ta
                    + CAST(ca AS HUGEINT) * tb)::DOUBLE)
            * 1000000000) AS BIGINT) ELSE 0 END) AS contrib
  FROM j
)
SELECT sa, sb, CAST(sum(contrib) AS BIGINT) AS jsd2_nano,
       count(*) AS n_terms
FROM terms GROUP BY sa, sb
ORDER BY jsd2_nano DESC, sa ASC, sb ASC
LIMIT {_JSD_TOPK}
"""

# ======================================================================
# sim_probe_sweep — IVF recall-vs-probes tuning curve
# ======================================================================

_SWEEP_PROBES = (1, 2, 4)


def q_sim_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: recall@k of the inverted-file ANN against the
    exact top-k as the probe count sweeps 1 → 2 → 4 cells — THE
    operating decision every vector-store deployment makes (probes buy
    recall with latency; the curve says how much). Truth and all three
    IVF runs reuse the existing operators; recall is exact integer
    arithmetic (hits via an equi-join on (query, neighbor), permille
    by integer division). Monotonicity in probes is a theorem (probing
    more cells only adds candidates) — asserted by the property
    test."""
    from .operators import similarity
    from .queries_data import IVF_CELLS, TOPK_K, TOPK_NQ

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < TOPK_NQ)
    exact = similarity.cosine_topk(emb, queries, k=TOPK_K).select(
        "query_id", "neighbor_id"
    ).localCheckpoint(eager=True)
    # one scored IVF pass at the largest probe count serves the whole
    # sweep (operators/similarity.ivf_probe_sweep): per-p results are
    # exactly ivf_topk's, but the corpus assignment and per-candidate
    # cosines are computed once instead of once per sweep point
    sweep = similarity.ivf_probe_sweep(
        emb, queries, k=TOPK_K, n_cells=IVF_CELLS, probes=_SWEEP_PROBES
    )
    outs = []
    for p in _SWEEP_PROBES:
        approx = sweep[p].select("query_id", "neighbor_id")
        hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy().agg(
            F.count(F.lit(1)).alias("hits")
        )
        outs.append(
            hits.select(
                F.lit(p).cast("long").alias("n_probe"),
                F.lit(TOPK_NQ * TOPK_K).cast("long").alias("truth_pairs"),
                F.col("hits").cast("long").alias("hits"),
                F.expr(f"CAST(hits * 1000 div {TOPK_NQ * TOPK_K} AS BIGINT)")
                .alias("recall_permille"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("n_probe")


def _sql_probe_sweep() -> str:
    from .queries_data import IVF_CELLS, TOPK_K, TOPK_NQ

    def ivf_cte(tag: str, p: int) -> str:
        return f"""
qa_{tag} AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY ccos DESC, cell_id
    ) AS rn FROM (
      SELECT query_id, qv, cell_id,
             round(list_cosine_similarity(qv, cvec), 6) AS ccos
      FROM q, cent
    )
  ) WHERE rn <= {p}
),
s_{tag} AS (
  SELECT DISTINCT qa.query_id, ca.neighbor_id,
         round(list_cosine_similarity(qa.qv, ca.cv), 6) AS cosine
  FROM qa_{tag} qa JOIN ca ON qa.cell_id = ca.cell_id
  WHERE qa.query_id <> ca.neighbor_id
),
topk_{tag} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank FROM s_{tag}
  ) WHERE rank <= {TOPK_K}
),
r_{tag} AS (
  SELECT CAST({p} AS BIGINT) AS n_probe,
         CAST({TOPK_NQ * TOPK_K} AS BIGINT) AS truth_pairs,
         CAST(count(*) AS BIGINT) AS hits,
         CAST(count(*) * 1000 // {TOPK_NQ * TOPK_K} AS BIGINT)
           AS recall_permille
  FROM topk_{tag} a JOIN exact e USING (query_id, neighbor_id)
)"""

    ivfs = ",".join(ivf_cte(f"p{p}", p) for p in _SWEEP_PROBES)
    unions = " UNION ALL ".join(
        f"SELECT * FROM r_p{p}" for p in _SWEEP_PROBES
    )
    return f"""
WITH cent AS MATERIALIZED (
  SELECT vec_id AS cell_id, CAST(embedding AS DOUBLE[]) AS cvec
  FROM embeddings WHERE vec_id < {IVF_CELLS}
),
c AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
ca AS MATERIALIZED (
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
q AS MATERIALIZED (
  SELECT neighbor_id AS query_id, cv AS qv
  FROM c WHERE neighbor_id < {TOPK_NQ}
),
exact AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank FROM (
      SELECT query_id, neighbor_id,
             round(list_cosine_similarity(qv, cv), 6) AS cosine
      FROM q, c WHERE query_id <> neighbor_id
    )
  ) WHERE rank <= {TOPK_K}
),{ivfs}
SELECT * FROM ({unions}) ORDER BY n_probe
"""

# ======================================================================
# pipe_epoch_shuffle — content-addressed resumable training order
# ======================================================================

_ESH_EPOCHS = 2
_ESH_HEAD = 10


def q_pipe_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resumable training-order plan: each epoch's document order is
    the rank of md5(doc_id ‖ epoch) — content-addressed, so ANY worker
    on ANY cluster reconstructs the identical order with no shuffle
    file, no RNG state, no coordination (the property a resumable /
    elastic training job needs from its data loader). The gate emits
    each epoch's first {head} documents plus, per epoch, an
    order-fingerprint Σ rank·doc_id mod 2^61−1 over the WHOLE corpus
    (exact integer; two epochs sharing a fingerprint would mean the
    re-deal failed). One window per epoch over the doc frame."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    merged = None
    for ep in range(_ESH_EPOCHS):
        h = F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f"|ep{ep}"))
        )
        w = Window.orderBy(h, "doc_id")
        ranked = docs.select(
            F.lit(ep).cast("long").alias("epoch"),
            "doc_id",
            (F.row_number().over(w) - 1).cast("long").alias("rk"),
        )
        part = ranked.groupBy("epoch").agg(
            F.sum(
                (_dec(F.col("rk")) * F.col("doc_id"))
                % F.lit(2305843009213693951).cast("decimal(38,0)")
            ).cast("decimal(38,0)").alias("_fp_sum"),
            F.count(F.lit(1)).alias("n_docs"),
        ).select(
            "epoch",
            "n_docs",
            (F.col("_fp_sum") % F.lit(2305843009213693951).cast(
                "decimal(38,0)"
            )).cast("long").alias("order_fp"),
        )
        head = ranked.where(F.col("rk") < _ESH_HEAD).select(
            "epoch", "doc_id", "rk"
        )
        piece = head.join(part, "epoch")
        merged = piece if merged is None else merged.unionByName(piece)
    return merged.select(
        "epoch", "rk", "doc_id", "n_docs", "order_fp"
    ).orderBy("epoch", "rk")


def _sql_epoch_shuffle() -> str:
    parts = []
    for ep in range(_ESH_EPOCHS):
        parts.append(f"""
ranked{ep} AS (
  SELECT CAST({ep} AS BIGINT) AS epoch, doc_id,
         CAST(row_number() OVER (
           ORDER BY md5(concat(CAST(doc_id AS VARCHAR), '|ep{ep}')),
                    doc_id
         ) - 1 AS BIGINT) AS rk
  FROM documents
),
fp{ep} AS (
  SELECT epoch, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum((CAST(rk AS HUGEINT) * doc_id)
                  % 2305843009213693951)
              % 2305843009213693951 AS BIGINT) AS order_fp
  FROM ranked{ep} GROUP BY epoch
),
head{ep} AS (
  SELECT r.epoch, r.rk, r.doc_id, f.n_docs, f.order_fp
  FROM ranked{ep} r JOIN fp{ep} f USING (epoch)
  WHERE r.rk < {_ESH_HEAD}
)""")
    unions = " UNION ALL ".join(
        f"SELECT * FROM head{ep}" for ep in range(_ESH_EPOCHS)
    )
    return (
        "\nWITH "
        + ",".join(parts)
        + f"\nSELECT epoch, rk, doc_id, n_docs, order_fp"
          f" FROM ({unions}) ORDER BY epoch, rk\n"
    )

# ======================================================================
# mm_modality_balance — corpus modality-mix audit from decoded meta
# ======================================================================


def q_mm_modality_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modality-mix audit: per decoded media format, the item count,
    total pixel area, total duration, and the corpus share in exact
    integer permille — the dataset-card row a multimodal training mix
    is balanced against (image-heavy vs audio-heavy drift is the first
    thing a mixed-modality ingest monitors). Metadata comes through
    the real mapInPandas decode seam (fake codec; a real decoder drops
    in); everything after is one 4-group rollup."""
    from .operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    payload = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("content")
    )
    # keep_cols=[]: only the meta struct returns across the Arrow
    # boundary (guide §4.1 — the payload never crosses back). The
    # corpus total is Σ n_items of the per-format rollup (same number
    # as a count over meta), so ONE decode pass feeds everything; the
    # format-count rollup is materialized (rows = #formats) so the
    # opaque seam is not re-evaluated for the total (guide §4.4).
    meta = multimodal.with_media_meta(
        payload, decoder=multimodal.fake_decoder, keep_cols=[]
    ).select(
        F.col("media_meta.format").alias("format"),
        F.col("media_meta.width").cast("long").alias("w"),
        F.col("media_meta.height").cast("long").alias("h"),
        F.col("media_meta.duration_ms").cast("long").alias("dur"),
    )
    g = (
        meta.groupBy("format")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("w") * F.col("h")).alias("total_pixels"),
            F.sum("dur").alias("total_ms"),
        )
        .localCheckpoint(eager=True)
    )
    tot = g.groupBy().agg(F.sum("n_items").alias("n_all"))
    return (
        g
        .crossJoin(F.broadcast(tot))
        .select(
            "format",
            "n_items",
            "total_pixels",
            "total_ms",
            F.expr("n_items * 1000 div n_all").alias("share_permille"),
        )
        .orderBy("format")
    )


def _sql_modality_balance() -> str:
    return """
WITH b AS (
  SELECT doc_id,
    CAST(concat('0x', substr(md5(text), 1, 2)) AS INT) AS h0,
    CAST(concat('0x', substr(md5(text), 3, 2)) AS INT) AS h1,
    CAST(concat('0x', substr(md5(text), 5, 2)) AS INT) AS h2,
    CAST(concat('0x', substr(md5(text), 9, 4)) AS BIGINT) AS h45
  FROM documents
),
meta AS (
  SELECT ['jpeg', 'png', 'webp', 'wav'][(h0 % 4) + 1] AS format,
         CAST(64 + (h1 % 64) * 16 AS BIGINT) AS w,
         CAST(64 + (h2 % 64) * 16 AS BIGINT) AS h,
         h45 AS dur
  FROM b
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM meta)
SELECT format, count(*) AS n_items,
       CAST(sum(w * h) AS BIGINT) AS total_pixels,
       CAST(sum(dur) AS BIGINT) AS total_ms,
       count(*) * 1000 // n_all AS share_permille
FROM meta, tot
GROUP BY format, n_all ORDER BY format
"""

# ======================================================================
# dedup_cluster_sizes — duplicate-cluster size telemetry
# ======================================================================


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution: power-of-two histogram of
    the MinHash-LSH connected components plus the exact doc mass in
    each bucket — the dedup telemetry every corpus report carries (a
    fat tail here means boilerplate farms; all-2 clusters mean benign
    near-twins). Rides the existing cluster machinery (one min-label
    propagation) + one rollup; bucket = the size's bit length, exact
    integers throughout."""
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
    sizes = clusters.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        sizes.select(
            F.expr("length(bin(sz))").cast("long").alias("size_bucket"),
            "sz",
        )
        .groupBy("size_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
            F.min("sz").alias("min_size"),
            F.max("sz").alias("max_size"),
        )
        .orderBy("size_bucket")
    )


def _sql_cluster_sizes() -> str:
    from .queries_nlp import _sql_dedup_clusters

    return f"""
WITH clust AS (
  {_sql_dedup_clusters().strip()}
),
sizes AS (
  SELECT cluster, CAST(count(*) AS BIGINT) AS sz
  FROM clust GROUP BY cluster
)
SELECT CAST(length(bin(sz)) AS BIGINT) AS size_bucket,
       count(*) AS n_clusters,
       CAST(sum(sz) AS BIGINT) AS n_docs,
       min(sz) AS min_size, max(sz) AS max_size
FROM sizes GROUP BY 1 ORDER BY size_bucket
"""

# ======================================================================
# pipe_mix_entropy — effective source count of the training mix
# ======================================================================


def q_pipe_mix_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-diversity scalar: Shannon entropy of the source share
    distribution and its exponential — the 'effective number of
    sources' (perplexity of the mix) every data-mix report quotes; a
    20-source corpus that behaves like 3 sources is a concentration
    risk this one number exposes. Each −p·ln p term takes ln of ONE
    integer ratio (n_i/N), nano-quantized before the sum, so H is an
    exact integer; the exponential is the single double finisher."""
    from .functions.hashing import word_tokens  # noqa: F401 (convention)

    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    tot = src.groupBy().agg(
        F.sum("c").alias("n_docs"), F.count(F.lit(1)).alias("n_sources")
    )
    terms = src.crossJoin(F.broadcast(tot)).select(
        "n_docs",
        "n_sources",
        F.round(
            -(F.col("c").cast("double") / F.col("n_docs").cast("double"))
            * F.log(
                F.col("c").cast("double") / F.col("n_docs").cast("double")
            )
            * F.lit(1000000000)
        ).cast("long").alias("t"),
    )
    return terms.groupBy("n_sources", "n_docs").agg(
        F.sum("t").alias("h_nano")
    ).select(
        "n_sources",
        "n_docs",
        "h_nano",
        F.exp(F.col("h_nano").cast("double") / F.lit(1000000000.0)).alias(
            "eff_sources"
        ),
    )


def _sql_mix_entropy() -> str:
    return """
WITH src AS (
  SELECT source, CAST(count(*) AS BIGINT) AS c FROM documents
  GROUP BY source
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS n_sources
  FROM src
),
terms AS (
  SELECT n_docs, n_sources,
         CAST(round(-(c::DOUBLE / n_docs::DOUBLE)
                    * ln(c::DOUBLE / n_docs::DOUBLE)
                    * 1000000000) AS BIGINT) AS t
  FROM src, tot
)
SELECT n_sources, n_docs, CAST(sum(t) AS BIGINT) AS h_nano,
       exp(CAST(sum(t) AS BIGINT)::DOUBLE / 1000000000.0)
         AS eff_sources
FROM terms GROUP BY n_sources, n_docs
"""

# ======================================================================
# text_dup_ngram_rate — token-level memorization-risk metric
# ======================================================================

_DNG_N = 8


def q_text_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate n-gram rate (the memorization-risk metric of the
    dedup literature, cf. Lee et al. 2022 'Deduplicating Training Data
    Makes Language Models Better'): of all 8-gram INSTANCES in the
    corpus, what fraction occur more than once — doc-level dedup can
    be clean while boilerplate still repeats inside/through documents,
    and this is the number that catches it. Per language: total
    instances, duplicated instances (Σ c over n-grams with c ≥ 2),
    distinct n-grams, and the rate in exact integer permille. One
    explode + one count shuffle + one rollup."""
    from .functions.hashing import word_ngrams, word_tokens

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "lang",
        F.explode(
            word_ngrams(word_tokens(F.col("text")), _DNG_N)
        ).alias("g"),
    )
    counts = grams.groupBy("lang", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        counts.groupBy("lang")
        .agg(
            F.sum("c").alias("n_instances"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum(
                F.when(F.col("c") >= 2, F.col("c")).otherwise(F.lit(0))
            ).alias("n_dup_instances"),
        )
        .select(
            "lang",
            "n_instances",
            "n_distinct",
            "n_dup_instances",
            F.expr(
                "n_dup_instances * 1000 div n_instances"
            ).alias("dup_permille"),
        )
        .orderBy("lang")
    )


def _sql_dup_ngram_rate() -> str:
    from .queries_data import _duck_shingles, _DUCK_TOKS

    return f"""
WITH grams AS (
  SELECT lang, unnest({_duck_shingles(_DNG_N)}) AS g
  FROM (SELECT lang, {_DUCK_TOKS} AS t FROM documents) d
),
counts AS (
  SELECT lang, g, CAST(count(*) AS BIGINT) AS c
  FROM grams GROUP BY lang, g
)
SELECT lang,
       CAST(sum(c) AS BIGINT) AS n_instances,
       count(*) AS n_distinct,
       CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
         AS n_dup_instances,
       CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) * 1000
         // CAST(sum(c) AS BIGINT) AS dup_permille
FROM counts GROUP BY lang ORDER BY lang
"""


QUERIES16: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "text_heaps_fit": q_text_heaps_fit,
    "text_burstiness": q_text_burstiness,
    "pipe_epoch_mix": q_pipe_epoch_mix,
    "sim_mmr_rerank": q_sim_mmr_rerank,
    "emb_maha_outlier": q_emb_maha_outlier,
    "pipe_token_fertility": q_pipe_token_fertility,
    "text_winnowing": q_text_winnowing,
    "src_sorted_clustering": q_src_sorted_clustering,
    "mm_av_sync_plan": q_mm_av_sync_plan,
    "text_jsd_sources": q_text_jsd_sources,
    "sim_probe_sweep": q_sim_probe_sweep,
    "pipe_epoch_shuffle": q_pipe_epoch_shuffle,
    "mm_modality_balance": q_mm_modality_balance,
    "dedup_cluster_sizes": q_dedup_cluster_sizes,
    "pipe_mix_entropy": q_pipe_mix_entropy,
    "text_dup_ngram_rate": q_text_dup_ngram_rate,
}


def oracles16() -> Dict[str, str]:
    return {
        "text_heaps_fit": _SQL_HEAPS_FIT,
        "text_burstiness": _SQL_BURSTINESS,
        "pipe_epoch_mix": _sql_epoch_mix(),
        "sim_mmr_rerank": _sql_mmr_rerank(),
        "emb_maha_outlier": _SQL_MAHA_OUTLIER,
        "pipe_token_fertility": _SQL_TOKEN_FERTILITY,
        "text_winnowing": _sql_winnowing(),
        "src_sorted_clustering": _sql_sorted_clustering(),
        "mm_av_sync_plan": _sql_av_sync_plan(),
        "text_jsd_sources": _sql_jsd_sources(),
        "sim_probe_sweep": _sql_probe_sweep(),
        "pipe_epoch_shuffle": _sql_epoch_shuffle(),
        "mm_modality_balance": _sql_modality_balance(),
        "dedup_cluster_sizes": _sql_cluster_sizes(),
        "pipe_mix_entropy": _sql_mix_entropy(),
        "text_dup_ngram_rate": _sql_dup_ngram_rate(),
    }

