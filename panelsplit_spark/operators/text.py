"""Text-analysis operators for training-data pipelines: token statistics,
quality scoring, language ID, document fingerprinting.

Everything is built-in Catalyst expressions (string/regex/array
higher-order functions) — fully codegen'd, no Python per row, trivially
parallel at 100 TB (narrow transformations only; zero shuffles except
where an aggregate is the point). Every formula is also expressible in
ANSI SQL so results are oracle-checkable cross-engine.
"""

from __future__ import annotations

from typing import Dict, List, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.hashing import adjacent_pairs, word_ngrams, word_tokens

__all__ = [
    "STOPWORDS",
    "bm25_topk",
    "rake_topk",
    "span_corruption",
    "PII_PATTERNS",
    "pii_scrub",
    "text_stats",
    "quality_score",
    "language_id",
    "fingerprint",
    "register_ngram_udtf",
    "lm_unigram_score",
    "lm_bigram_score",
    "chunk_documents",
    "repetition_signals",
    "fuzzy_word_pairs",
    "ngram_novelty",
    "char_entropy",
    "pmi_collocations",
    "inverted_index",
]

# Tiny per-language function-word lists for the n-gram/stopword language
# heuristic. Deliberately small and hard-coded: the operator must be
# deterministic and reproducible in SQL, not comprehensive.
STOPWORDS: Dict[str, List[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "ein", "zu", "den", "von"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "de", "que"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不"],
}

# BPE-ish token regex: letter runs, digit runs, single other glyphs.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _tok(text_col: str) -> Column:
    return word_tokens(F.col(text_col))


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document statistics: whitespace token count, BPE-ish token
    count, mean token length, punctuation/digit ratios, stopword ratio.

    Adds columns: n_ws_tokens, n_bpe_tokens, avg_token_len, punct_ratio,
    digit_ratio, stopword_ratio.
    """
    toks = _tok(text_col)
    lower = F.lower(F.col(text_col))
    n_chars = F.length(F.col(text_col))
    n_alpha_space = F.length(F.regexp_replace(lower, "[^a-z ]", ""))
    n_digit = F.length(F.regexp_replace(lower, "[^0-9]", ""))
    en_stop = [F.lit(w) for w in STOPWORDS["en"]]
    return (
        df.withColumn("n_ws_tokens", F.size(toks))
        .withColumn(
            "n_bpe_tokens",
            F.size(F.regexp_extract_all(lower, F.lit(BPE_RE), 0)),
        )
        .withColumn(
            "avg_token_len",
            F.length(F.regexp_replace(lower, " ", ""))
            / F.greatest(F.size(toks), F.lit(1)),
        )
        .withColumn(
            "punct_ratio",
            (n_chars - n_alpha_space - n_digit)
            / F.greatest(n_chars, F.lit(1)),
        )
        .withColumn(
            "digit_ratio", n_digit / F.greatest(n_chars, F.lit(1))
        )
        .withColumn(
            "stopword_ratio",
            F.size(
                F.filter(toks, lambda t: t.isin(STOPWORDS["en"]))
            )
            / F.greatest(F.size(toks), F.lit(1)),
        )
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic document-quality heuristic in [0, 1]:
    length term × (1 − punct_ratio) × (1 − digit_ratio), where the length
    term saturates at ~150 tokens. Adds ``quality``."""
    stats = text_stats(df, text_col)
    length_term = F.least(
        F.lit(1.0), F.log(F.lit(1.0) + F.col("n_ws_tokens")) / F.lit(5.0)
    )
    return stats.withColumn(
        "quality",
        length_term
        * (F.lit(1.0) - F.col("punct_ratio"))
        * (F.lit(1.0) - F.col("digit_ratio")),
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language heuristic: score each language by its
    function-word hit count; argmax with lexicographic tiebreak (and 'und'
    when nothing matches). Adds ``lang_scores`` debug cols and
    ``pred_lang``."""
    toks = _tok(text_col)
    out = df
    langs = sorted(STOPWORDS)
    for lang in langs:
        out = out.withColumn(
            f"score_{lang}",
            F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang]))),
        )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    # reversed so earlier (lexicographically smaller) languages win ties
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(
            pred
        )
    out = out.withColumn(
        "pred_lang", F.when(best > 0, pred).otherwise(F.lit("und"))
    )
    return out


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> DataFrame:
    """Winnowing-style document fingerprint: the minimum md5 digest over
    word ``shingle_n``-gram shingles (rolling-hash selection by order
    statistic). Equal fingerprints ⇒ likely near-identical prefix
    content; stable under partitioning. → (id, fingerprint)."""
    toks = _tok(text_col)
    shingles = word_ngrams(toks, shingle_n)
    return df.select(
        F.col(id_col),
        F.array_min(F.transform(shingles, F.md5)).alias("fingerprint"),
    )


def register_ngram_udtf(spark, name: str = "ngrams"):
    """Register a Python UDTF exploding a document into word n-gram
    rows: ``SELECT t.* FROM ngrams(text, 3) t``.

    Completes the user-extension surface triad next to grouped-map
    (UDAF-like) fits and ``mapInPandas`` (UDF-like) scoring — a UDTF is
    the row-generating form users reach for in lateral joins.

    The engine's own shingling deliberately does NOT use this: the
    Catalyst higher-order-function path (``functions.hashing.
    word_ngrams``) runs JVM-side in whole-stage codegen, ~10-100× faster
    than a per-row Python generator. Register this only for ad-hoc
    exploration or logic genuinely inexpressible as HOFs.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, gram string")
    class _NGrams:
        def eval(self, text, n):
            toks = text.lower().split() if text else []
            n = int(n)
            for i in range(max(0, len(toks) - n + 1)):
                yield i, " ".join(toks[i: i + n])

    spark.udtf.register(name, _NGrams)
    return name


def lm_unigram_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: float = 1_000_000.0,
) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    CCNet-style quality/perplexity filter: documents whose tokens are
    improbable under the corpus LM (boilerplate, noise, wrong-language)
    score low and get dropped or down-sampled.

    Two aggregates, both exact-integer:

    1. vocabulary counts (one explode + grouped count) → add-one
       smoothed ``p(tok) = (c+1)/(T+V)`` with c, T, V integers;
    2. per-doc sum of quantized log-probs: each token contributes
       ``round(ln(p)·scale)`` as a LONG, so the per-doc sum is an exact
       integer — partition-order-independent and replayable by a SQL
       engine (ulp-level libm differences are absorbed by the
       quantization).

    Emits ``n_tokens``, ``logprob_micro`` (Σ quantized log-probs) and
    ``avg_logprob`` (one deterministic double division). Scale: the
    vocab count frame is term-distinct-sized; if it exceeds broadcast
    range the equi-join on the token shuffles tokens once — same cost
    class as tf-idf.
    """
    toks = df.select(
        F.col(id_col), F.explode(_tok(text_col)).alias("tok")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = vocab.agg(
        F.sum("c").alias("T"), F.count(F.lit(1)).alias("V")
    )
    scored = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(totals))
        .select(
            id_col,
            F.round(
                F.log(
                    (F.col("c") + F.lit(1)).cast("double")
                    / (F.col("T") + F.col("V")).cast("double")
                )
                * F.lit(scale)
            )
            .cast("long")
            .alias("q"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("q").alias("logprob_micro"),
        )
        .select(
            id_col,
            "n_tokens",
            "logprob_micro",
            # NO final round: the inputs are identical integers on both
            # engines, so the raw (lp/scale)/n division is bit-identical
            # IEEE — while round(x, 6) itself is the cross-engine hazard
            # (Spark rounds via BigDecimal of the repr, DuckDB rounds
            # x·1e6 in binary; a tie at the 7th decimal flips, observed
            # at sf0.1). Round only when inputs can differ in ulps.
            (
                F.col("logprob_micro")
                / F.lit(scale)
                / F.col("n_tokens")
            ).alias("avg_logprob"),
        )
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    overlap: int = 8,
) -> DataFrame:
    """Split documents into overlapping token windows — the standard
    pre-tokenization step feeding embedding models and context-bounded
    trainers (complements ``sampling.pack_sequences``, which CONCATS
    small docs; this SPLITS big ones). One row per (doc, window):
    ``(id, chunk_id, n_tokens, chunk_text)``.

    Windows start every ``chunk_size - overlap`` tokens and carry up to
    ``chunk_size`` tokens; the final window is the (possibly short)
    tail. Pure higher-order Catalyst expressions — ``sequence`` for the
    window starts, ``explode`` (narrow: no shuffle), ``slice`` +
    ``array_join`` per window — so the operator is codegen'd end to end
    and scales as a map-only pass over the corpus. The identical
    arithmetic runs in ANSI SQL (list slicing), making chunk boundaries
    engine-exact.
    """
    if overlap >= chunk_size:
        raise ValueError(
            f"overlap ({overlap}) must be < chunk_size ({chunk_size})"
        )
    stride = chunk_size - overlap
    toks = word_tokens(F.col(text_col))
    n = F.size(toks)
    with_chunks = (
        df.select(F.col(id_col), toks.alias("_toks"), n.alias("_n"))
        .where(F.col("_n") > 0)
        .select(
            id_col,
            "_toks",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.floor((F.col("_n") - 1) / F.lit(stride)).cast(
                        "int"
                    ),
                )
            ).alias("chunk_id"),
        )
    )
    window = F.slice(
        F.col("_toks"),
        F.col("chunk_id") * F.lit(stride) + F.lit(1),
        F.lit(chunk_size),
    )
    return with_chunks.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(window).cast("long").alias("n_tokens"),
        F.array_join(window, " ").alias("chunk_text"),
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition ratios — the quality
    signals that catch boilerplate, keyword stuffing, and templated spam
    that length/punctuation stats miss. Adds:

    * ``distinct_token_ratio`` — |distinct tokens| / |tokens|;
    * ``dup_2gram_ratio`` / ``dup_3gram_ratio`` — fraction of word
      n-grams that are repeats of an earlier n-gram in the same doc.

    All array higher-order functions over the token array — codegen'd,
    zero shuffles, no Python; a 100 TB corpus pays exactly one narrow
    pass. Ratios are rounded to 6 decimals so the doubles compare
    engine-exact."""
    toks = _tok(text_col)

    def dup_ratio(grams: Column) -> Column:
        n = F.size(grams)
        return F.when(
            n > 0,
            F.round(
                (n - F.size(F.array_distinct(grams))).cast("double")
                / n,
                6,
            ),
        ).otherwise(F.lit(0.0))

    n_toks = F.size(toks)
    return (
        df.withColumn(
            "distinct_token_ratio",
            F.round(
                F.size(F.array_distinct(toks)).cast("double")
                / F.greatest(n_toks, F.lit(1)),
                6,
            ),
        )
        .withColumn("dup_2gram_ratio", dup_ratio(word_ngrams(toks, 2)))
        .withColumn("dup_3gram_ratio", dup_ratio(word_ngrams(toks, 3)))
    )


#: PII patterns, ordered (earlier categories scrub first so later
#: patterns can't re-match inside a placeholder). Every pattern is in
#: the RE2 ∩ java.util.regex common subset — no lookarounds, no
#: backreferences — so a SQL oracle using RE2 (DuckDB) applies the
#: byte-identical scrub.
PII_PATTERNS: List[tuple] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("phone", r"\+[0-9]{1,3}[- ][0-9]{3}[- ][0-9]{4}", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
]


def pii_scrub(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "clean_text",
    patterns: Sequence[tuple] = tuple(PII_PATTERNS),
) -> DataFrame:
    """Redact PII-shaped spans (emails, SSN-style ids, phone numbers,
    IPv4 addresses) and count hits per category — the standard scrub
    pass an LLM training pipeline runs before anything else sees the
    text.

    A chain of ``regexp_count`` + ``regexp_replace`` expressions — pure
    whole-stage codegen, zero shuffles, one narrow pass over the corpus
    at any scale. Categories apply in ``patterns`` order against the
    progressively scrubbed text, so counts are non-overlapping (an email
    is counted once, not again as a phone).

    Adds ``n_<category>`` LONG columns and ``out_col``.
    """
    out = df
    cur = F.col(text_col)
    for name, pat, repl in patterns:
        out = out.withColumn(
            f"n_{name}", F.regexp_count(cur, F.lit(pat)).cast("long")
        )
        cur = F.regexp_replace(cur, pat, repl)
    return out.withColumn(out_col, cur)


def lm_bigram_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.75,
    scale: float = 1_000_000.0,
) -> DataFrame:
    """Interpolated bigram language-model score per document — the
    stronger form of the CCNet-style LM quality filter
    (:func:`lm_unigram_score`): fluent word ORDER now matters, not just
    word choice, so shuffled/templated text scores visibly worse.

    ``p(w2|w1) = lam·c(w1,w2)/c(w1) + (1−lam)·(c(w2)+1)/(T+V)``
    (denominator = w1's unigram count — the standard simplification) — the
    classic Jelinek-Mercer interpolation with an add-one unigram
    floor. Every probability is ONE float expression over exact integer
    counts, and each bigram's log-prob is quantized to ``scale`` units
    before the per-doc sum (partition-order independent, SQL-exact).

    Scale shape: bigram explode is narrow; the model tables (bigram,
    unigram, totals) are vocab-sized aggregates that join each OTHER,
    not the stream — per-bigram scores are computed once on the
    distinct-bigram table (``score_tbl``) and the occurrence stream
    joins that ONE table (broadcast while the model fits, a single SMJ
    when it doesn't), instead of one model join per table. Per-doc
    bigrams are mostly unique (occurrence counts ≈ 1), so pre-reducing
    the stream to ``(doc, w1, w2)`` counts buys nothing and was
    measured slower — the stream exchanges are the bigram-count
    aggregate and (at most) the score join.
    """
    toks = _tok(text_col)
    pairs = df.select(
        F.col(id_col),
        F.explode(adjacent_pairs(toks, "w1", "w2")).alias("p"),
    ).select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bigrams = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("cb")
    )
    # vocab-sized and consumed THREE times (w1-context join, w2 join,
    # T/V totals) — left lazy, each consumer re-ran the full
    # scan+explode+aggregate pipeline (measured: 3 extra corpus scans
    # in the executed plan); materialize the small table once
    unigrams = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cu"))
        .localCheckpoint(eager=True)
    )
    ctx = unigrams.select(
        F.col("w").alias("w1c"), F.col("cu").alias("c1")
    )
    totals = unigrams.agg(
        F.sum("cu").alias("T"), F.count(F.lit(1)).alias("V")
    )
    prob = (
        F.lit(lam) * F.col("cb").cast("double") / F.col("c1")
        + F.lit(1.0 - lam)
        * (F.col("cu") + F.lit(1)).cast("double")
        / (F.col("T") + F.col("V")).cast("double")
    )
    # score each DISTINCT bigram once (vocab²-bounded model join —
    # never touches the stream), identical float expression order as
    # scoring per occurrence, so q is bit-identical per (w1, w2)
    score_tbl = (
        bigrams.join(ctx, F.col("w1") == F.col("w1c"))
        .join(
            unigrams.select(F.col("w").alias("w2u"), "cu"),
            F.col("w2") == F.col("w2u"),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.round(F.log(prob) * F.lit(scale)).cast("long").alias("q"),
        )
    )
    scored = pairs.join(score_tbl, ["w1", "w2"])
    return (
        scored.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("q").alias("logprob_micro"),
        )
        .select(
            id_col,
            "n_bigrams",
            "logprob_micro",
            # unrounded for the same reason as lm_unigram_score: integer
            # inputs ⇒ bit-identical division; round(x,6) tie-flips
            (
                F.col("logprob_micro") / F.lit(scale) / F.col("n_bigrams")
            ).alias("avg_logprob"),
        )
    )


def fuzzy_word_pairs(
    df: DataFrame,
    text_col: str = "text",
    min_len: int = 3,
    max_dist: int = 2,
) -> DataFrame:
    """Edit-distance word pairs from the corpus vocabulary — typo /
    variant mining (rare token a small edit from a frequent token is a
    likely misspelling; SymSpell blocking scheme, public algorithm).

    Exact-recall blocking without the quadratic vocab self-join: two
    words within Levenshtein distance k share a common string in their
    depth-k deletion neighborhoods (delete the substituted/inserted/
    deleted positions from each side — a theorem, not a heuristic). So
    the plan is: distinct vocabulary (one shuffle, vocab-sized),
    explode the ≤ O(len^k) deletion keys per word (codegen
    ``transform``), self-equi-join on the key, verify with the built-in
    ``levenshtein`` — never an all-pairs product. At 100 TB the
    vocab table is the only thing shuffled, and the oracle keeps the
    quadratic form as an independent completeness witness.

    Emits ``(w1, w2, dist, df1, df2)`` with w1 < w2 and df = document
    frequency, so downstream can rank "rare variant of common word".
    Words shorter than ``min_len`` are excluded (at tiny lengths
    everything is within 2 edits of everything). ``max_dist`` ∈ {1, 2}.
    """
    if max_dist not in (1, 2):
        raise ValueError("fuzzy_word_pairs: max_dist must be 1 or 2")
    toks = df.select(
        F.col("doc_id"), F.explode(_tok(text_col)).alias("w")
    )
    vocab = (
        toks.where(F.length("w") >= min_len)
        .groupBy("w")
        .agg(F.count_distinct("doc_id").alias("df"))
    )
    d1 = (
        "transform(sequence(1, length(w)), "
        "i -> concat(substring(w, 1, i - 1), substring(w, i + 1)))"
    )
    if max_dist == 1:
        keyset = f"array_distinct(array_union(array(w), {d1}))"
    else:
        d2 = (
            f"flatten(transform({d1}, v -> transform("
            "sequence(1, length(v)), "
            "j -> concat(substring(v, 1, j - 1), substring(v, j + 1)))))"
        )
        keyset = (
            f"array_distinct(concat(array(w), {d1}, {d2}))"
        )
    keys = vocab.select(
        "w", "df", F.explode(F.expr(keyset)).alias("k")
    )
    a = keys.select(
        F.col("w").alias("w1"), F.col("df").alias("df1"), "k"
    )
    b = keys.select(
        F.col("w").alias("w2"), F.col("df").alias("df2"), "k"
    )
    return (
        a.join(b, "k")
        .where(F.col("w1") < F.col("w2"))
        .select("w1", "w2", "df1", "df2")
        .distinct()
        .withColumn("dist", F.levenshtein("w1", "w2"))
        .where(F.col("dist") <= max_dist)
        .select("w1", "w2", F.col("dist").cast("long").alias("dist"),
                "df1", "df2")
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty against everything that came before
    it (ordered by ``id_col``): the fraction of a document's distinct
    n-grams whose FIRST corpus occurrence is this document. The
    "marginal contribution" curation signal — a document whose shingles
    all appeared earlier adds little to a training set even when no
    single pair crosses a near-dup threshold.

    Plan: one explode to distinct (doc, shingle) pairs, then TWO
    doc-keyed aggregates joined at doc granularity — per-doc shingle
    counts, and first-occurrence counts via ``groupBy(shingle).min(doc)
    → groupBy(first_doc).count()``. The shingle-level frame is never
    joined back to the pair set, so the widest join in the plan is
    doc-sized. Nothing quadratic; ratios are exact integer numerators/
    denominators plus one rounded division.

    The shingle HOFs are interpreted (outside whole-stage codegen) and
    dominate the cost, so the doc frame is re-spread across the
    session's default parallelism before the explode: when the source
    has fewer splits than cores (small bench files; a production scan
    always has plenty) the one doc-sized shuffle buys full-core shingle
    generation.
    """
    from ..functions.hashing import word_ngrams

    sc = df.sparkSession.sparkContext
    spread = df.repartition(sc.defaultParallelism, F.col(id_col))
    pairs = spread.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(_tok(text_col), n))
        ).alias("g"),
    )
    per_doc = pairs.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    novel = (
        pairs.groupBy("g")
        .agg(F.min(id_col).alias("_first"))
        .groupBy("_first")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(
            novel, per_doc[id_col] == novel["_first"], "left"
        )
        .select(
            id_col,
            "n_grams",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)).cast("double")
                / F.col("n_grams"),
                6,
            ).alias("novelty"),
        )
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    scale: float = 1_000_000_000.0,
) -> DataFrame:
    """Per-document character-distribution Shannon entropy (nats) —
    the cheap junk detector: binary blobs masquerading as text score
    anomalously high, repeated-character spam anomalously low, and
    both get filtered before the expensive pipeline stages run.

    One explode to (doc, char) counts (single keyed shuffle with
    map-side combine), then −Σ p·ln p with each term quantized to
    integer nano-units before the per-doc sum — the standard
    cross-engine contract: ulp-level libm differences in ln() are
    absorbed by the quantization and the sum itself is exact LONG
    arithmetic.
    """
    chars = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    ).where(F.col("ch") != "")
    counts = chars.groupBy(id_col, "ch").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window

    n = F.sum("c").over(Window.partitionBy(id_col))
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term = F.round(p * F.log(p) * F.lit(scale)).cast("long")
    return (
        counts.withColumn("n", n)
        .select(F.col(id_col), "n", term.alias("t"))
        .groupBy(id_col)
        .agg(
            F.max("n").alias("n_chars"),
            F.count(F.lit(1)).alias("n_distinct_chars"),
            (-F.sum("t")).alias("entropy_nano"),
        )
        .select(
            id_col,
            "n_chars",
            "n_distinct_chars",
            "entropy_nano",
            # unrounded: exact-integer nano units / literal is
            # bit-identical IEEE on both engines; round(x,6) tie-flips
            (F.col("entropy_nano") / F.lit(scale)).alias("entropy"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 100,
    scale: float = 1_000_000_000.0,
) -> DataFrame:
    """Top-N adjacent-bigram collocations ranked by pointwise mutual
    information → (w1, w2, n_pair, n_w1, n_w2, pmi_nano, pmi).

    PMI = ln( p(w1,w2) / (p(w1)·p(w2)) ) with p(w1,w2) over the bigram
    total and p(w) over the unigram total. The ratio is computed as ONE
    float expression with a fixed association order —
    ``((pair·U)·U) / ((B·w1)·w2)`` all in DOUBLE — then ln + nano
    quantization, so an independent engine replaying the identical
    expression gets the identical integer (products in double avoid
    the int64 overflow that ``pair·U²`` would hit on a web corpus).

    Plan shape at 100 TB: tokenization and bigram assembly are narrow
    (higher-order array functions in codegen, no Python); unigram and
    bigram counts are each ONE partially-aggregated shuffle on the
    term key; the two unigram joins onto the (min_count-pruned) bigram
    table key on the word; the two corpus totals are single-row
    broadcast scalars; top-N is TakeOrderedAndProject with a full
    deterministic tie-break (pmi desc, w1, w2), never a global sort.
    """
    # token filtering and bigram assembly are interpreted HOFs (outside
    # whole-stage codegen): re-spread the doc frame across the session's
    # default parallelism first, same rationale as ngram_novelty above
    sc = df.sparkSession.sparkContext
    # the token-array frame feeds BOTH count tables; the repartition is
    # one identical exchange subplan in both branches, so ReuseExchange
    # pays the scan+shuffle once (persisting the wide token arrays was
    # measurably slower than recomputing the interpreted filter)
    toks = df.repartition(sc.defaultParallelism).select(
        F.filter(word_tokens(F.col(text_col)), lambda x: F.length(x) > 0)
        .alias("t")
    )
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    n_uni = uni.agg(F.sum("n_w").alias("n_uni"))
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(slice(t, 1, greatest(size(t) - 1, 0)),"
                " (w, i) -> struct(w AS w1, t[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    pair = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    n_big = pair.agg(F.sum("n_pair").alias("n_big"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_w1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_w2"))
    ratio = (
        (F.col("n_pair").cast("double") * F.col("n_uni")) * F.col("n_uni")
    ) / (
        (F.col("n_big").cast("double") * F.col("n_w1")) * F.col("n_w2")
    )
    pmi_nano = F.round(F.log(ratio) * F.lit(scale)).cast("long")
    out = (
        pair.where(F.col("n_pair") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1", "w2", "n_pair", "n_w1", "n_w2",
            pmi_nano.alias("pmi_nano"),
        )
        .withColumn(
            # unrounded integer-nano ratio (see entropy): tie-safe
            "pmi", F.col("pmi_nano") / F.lit(scale)
        )
        .orderBy(F.col("pmi_nano").desc(), "w1", "w2")
        .limit(top_n)
    )
    return out


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings_cap: int = 20,
    min_df: int = 2,
) -> DataFrame:
    """Build a term → postings inverted index over a document corpus:
    per term, its document frequency and the first ``postings_cap``
    doc ids (ascending) rendered as one comma-joined string — the
    retrieval-side artifact a contamination screen or BM25 index build
    starts from.

    Reference parity note: the reference library has no text indexing;
    part of the mandated training-data curation extension.

    Scale design (100 TB): tokenization explodes narrowly (no shuffle),
    the (term, doc) pairs are reduced to DISTINCT once (the only
    corpus-sized shuffle), df comes from a map-side-combinable count on
    the term key, and the postings string is built from rows that
    survive a per-term ``row_number ≤ cap`` window — so the aggregation
    state per term is bounded by the cap, never by a hot term's true
    document frequency (the stopword problem). ``sort_array`` before
    ``array_join`` pins the rendering regardless of collection order.
    """
    pairs = (
        df.select(
            F.col(id_col).alias("__doc"),
            F.explode(word_tokens(F.col(text_col))).alias("term"),
        )
        .where(F.col("term") != "")
        .distinct()
    )
    dfreq = pairs.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("term").orderBy("__doc")
    capped = (
        pairs.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= postings_cap)
        .groupBy("term")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("__doc")), ","
            ).alias("postings")
        )
    )
    return (
        dfreq.where(F.col("df") >= min_df)
        .join(capped, "term")
        .select("term", "df", "postings")
    )


def bm25_topk(
    docs,
    query_terms,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
):
    """Okapi BM25 top-k retrieval over an on-the-fly unigram inverted
    index (Robertson & Zaragoza 2009, public method): for each query
    (a list of ``(query_id, term)`` rows, parsed driver-side so both
    engines see the same literals) score every matching document with

        Σ_t  idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len/avglen))

    and keep the k best (score desc, id asc).

    Cross-engine exactness: idf = ln((N−df+0.5)/(df+0.5)) is computed
    as ln of ONE division of the exact odd integers (2(N−df)+1) and
    (2df+1); len/avglen = (len·N)/Σlen is one division of exact
    integers; each term's score quantizes to MICRO units AFTER the
    fixed-order double chain, so the per-document sum over query
    terms is an exact integer and ranking ties break by id.

    100 TB shape: the inverted index materializes ONLY for the query
    terms (a semi-join of the token explode against the tiny term
    list); N and Σlen are one-row scalars broadcast into the scoring
    projection; the final top-k is a per-query window over matching
    docs. Documents containing no query term never shuffle.
    """
    from pyspark.sql import Window

    from ..functions.hashing import word_tokens

    spark = docs.sparkSession
    qt = spark.createDataFrame(
        [(int(q), t) for q, t in query_terms], ["query_id", "term"]
    )
    toks = docs.select(
        F.col(id_col),
        F.explode(word_tokens(F.col(text_col))).alias("term"),
    )
    lens = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("dl"))
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_len"),
    )
    hits = toks.join(F.broadcast(qt), "term")
    tf = hits.groupBy("query_id", "term", id_col).agg(
        F.count(F.lit(1)).alias("tf")
    )
    df_t = (
        tf.select("term", id_col)
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(lens, id_col)
        .crossJoin(F.broadcast(stats))
    )
    nd = F.col("n_docs")
    idf = F.log(
        (F.lit(2) * (nd - F.col("df")) + F.lit(1)).cast("double")
        / (F.lit(2) * F.col("df") + F.lit(1)).cast("double")
    )
    ratio = (F.col("dl") * nd).cast("double") / F.col(
        "total_len"
    ).cast("double")
    tfd = F.col("tf").cast("double")
    sat = (
        tfd * F.lit(float(k1) + 1.0)
        / (
            tfd
            + F.lit(float(k1))
            * (F.lit(1.0 - float(b)) + F.lit(float(b)) * ratio)
        )
    )
    term_micro = F.round(idf * sat * F.lit(1e6)).cast("long")
    per_doc = scored.select(
        "query_id", F.col(id_col), term_micro.alias("tm")
    ).groupBy("query_id", id_col).agg(
        F.sum("tm").alias("bm25_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25_micro").desc(), F.col(id_col).asc()
    )
    return (
        per_doc.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= int(k))
        .select("query_id", id_col, "bm25_micro", "rk")
    )


def rake_topk(
    docs,
    stopwords,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
):
    """RAKE keyphrase extraction (Rose et al. 2010, public method),
    corpus-level top-k: candidate phrases are maximal stopword-free
    token runs (gaps-and-islands: island = pos − rank-over-nonstop, a
    pure window identity), word scores are degree/frequency where
    degree(w) = Σ length of the phrases w occurs in, and a phrase's
    score is the sum of its words' scores.

    Fully integer-exact: word score = (deg·10⁶) div freq (INTEGER
    division — no doubles exist anywhere in the statistic), phrase
    score = exact integer sum over its words, ranking ties break on
    the phrase text. Phrase text itself is order-pinned
    (Spark: sort_array over (pos, token) structs; oracle:
    string_agg ORDER BY pos).

    100 TB shape: one posexplode + doc-keyed window for islands, one
    phrase-keyed aggregate, one corpus word-stat aggregate joined back
    over the DISTINCT phrase vocabulary (≪ occurrences); final top-k
    is a TakeOrdered.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.col(text_col)), " ")
        ).alias("pos", "tok"),
    ).where(F.col("tok") != "")
    # plen rides a second window over the SAME doc-keyed shuffle as the
    # island rank (hash-partitioning on id satisfies the (id, island)
    # clustering requirement — no second exchange), so every token
    # carries its phrase length without the old tokens⋈phrases join;
    # checkpoint because three aggregates consume the exploded table
    # (at production scale: write the token table out instead)
    ns = (
        toks.where(~F.col("tok").isin(*stopwords))
        .withColumn(
            "island",
            F.col("pos").cast("long")
            - F.row_number()
            .over(Window.partitionBy(id_col).orderBy("pos"))
            .cast("long"),
        )
        .withColumn(
            "plen",
            F.count(F.lit(1)).over(
                Window.partitionBy(id_col, "island")
            ),
        )
        .localCheckpoint(eager=True)
    )
    ph = ns.groupBy(id_col, "island").agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("pos", "tok"))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    wstat = ns.groupBy("tok").agg(
        F.sum("plen").alias("deg"),
        F.count(F.lit(1)).alias("freq"),
    )
    wsc = wstat.select(
        "tok",
        F.expr("(deg * 1000000) div freq").alias("score_micro"),
    )
    dph = ph.select("phrase").distinct()
    pw = dph.select(
        "phrase", F.explode(F.split(F.col("phrase"), " ")).alias("tok")
    )
    psc = (
        pw.join(wsc, "tok")
        .groupBy("phrase")
        .agg(F.sum("score_micro").alias("score_micro"))
    )
    occ = ph.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.count_distinct(F.col(id_col)).alias("n_docs"),
    )
    return (
        psc.join(occ, "phrase")
        .orderBy(F.col("score_micro").desc(), F.col("phrase").asc())
        .limit(int(k))
        .select("phrase", "n_occurrences", "n_docs", "score_micro")
    )


def span_corruption(
    docs,
    mask_bp: int = 1500,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "span",
):
    """T5-style span-corruption training pairs (Raffel et al. 2020,
    public method): each token masks independently by its content hash
    (``hash_bucket(doc#pos) < mask_bp`` — reproducible across runs,
    engines, and repartitioning), consecutive masked tokens merge into
    spans, and each document becomes an (input, target) pair —

        input  = unmasked tokens with span k replaced by <extra_id_k>
        target = <extra_id_k> followed by span k's tokens, for all k

    Everything is deterministic string algebra: spans are
    gaps-and-islands over the masked positions, sentinel indices are
    per-doc ranks of the span start, and both strings render through
    position-ordered aggregation (sort_array over (pos, token)
    structs), so the oracle reproduces them byte-for-byte. Documents
    with no masked token emit their token stream and an empty target.

    100 TB shape: one posexplode + two doc-keyed windows + doc-keyed
    aggregates — the corruption of a petabyte corpus is one shuffle
    keyed by doc, and re-running it (or running it on an appended
    batch) masks exactly the same tokens.
    """
    from pyspark.sql import Window

    from .sampling import hash_bucket

    toks = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.lower(F.col(text_col)), " ")
        ).alias("pos", "tok"),
    ).where(F.col("tok") != "")
    toks = toks.withColumn(
        "masked",
        (
            hash_bucket(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit("#"),
                    F.col("pos").cast("string"),
                ),
                salt,
            )
            < F.lit(int(mask_bp))
        ).cast("int"),
    )
    mk = toks.where(F.col("masked") == 1).withColumn(
        "island",
        F.col("pos").cast("long")
        - F.row_number()
        .over(Window.partitionBy(id_col).orderBy("pos"))
        .cast("long"),
    )
    runs = mk.groupBy(id_col, "island").agg(
        F.min("pos").alias("run_start"),
        F.count(F.lit(1)).alias("run_len"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("span_text"),
    ).withColumn(
        "k",
        F.row_number()
        .over(Window.partitionBy(id_col).orderBy("run_start"))
        .cast("long")
        - F.lit(1),
    )
    sentinel = F.concat(
        F.lit("<extra_id_"), F.col("k").cast("string"), F.lit(">")
    )
    pieces = toks.where(F.col("masked") == 0).select(
        F.col(id_col), F.col("pos").cast("long").alias("pos"),
        F.col("tok").alias("piece"),
    ).unionByName(
        runs.select(
            F.col(id_col),
            F.col("run_start").cast("long").alias("pos"),
            sentinel.alias("piece"),
        )
    )
    inputs = pieces.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "piece"))),
                lambda x: x["piece"],
            ),
            " ",
        ).alias("input_text")
    )
    targets = runs.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            "k",
                            F.concat(
                                sentinel, F.lit(" "), F.col("span_text")
                            ).alias("t"),
                        )
                    )
                ),
                lambda x: x["t"],
            ),
            " ",
        ).alias("target_text"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("run_len").alias("n_masked_tokens"),
    )
    return (
        inputs.join(targets, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.coalesce(F.col("n_masked_tokens"), F.lit(0)).alias(
                "n_masked_tokens"
            ),
            "input_text",
            F.coalesce(F.col("target_text"), F.lit("")).alias(
                "target_text"
            ),
        )
    )
