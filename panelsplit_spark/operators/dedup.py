"""Deduplication operators for large-scale document corpora.

These are the operators a 100 TB training-data pipeline runs before
anything else. Scale design notes (per operator):

* **exact** — one ``groupBy(md5(text))``: a single shuffle of (hash, id)
  pairs only (never the payload); map-side partial aggregation collapses
  local duplicates before the exchange.
* **MinHash + LSH** — per-doc signatures are one pass + one grouped
  aggregate over (doc, shingle) pairs; banding turns O(n²) comparison into
  equi-joins on (band, signature) bucket keys, which Spark executes as
  plain hash joins; within-bucket pairing is quadratic only in bucket
  size (bounded by hash uniformity, skew-handled by AQE).
* **n-gram Jaccard** — exact verification for candidate pairs: explode
  distinct shingles, self-equi-join on shingle, count intersections;
  at scale run it *after* LSH pruning, not on the full cross product.
* **SimHash** — per-token 60-bit hashes aggregated bitwise into one
  64-bit-class fingerprint per doc; near-dups differ in few bits
  (hamming ≤ k) and are found via band-exact-match like LSH.
* **embedding near-dup** — cosine over ``array<float>``; brute pairs for
  verification, LSH (random hyperplanes, see similarity.py) for recall
  at scale.

All signatures/hashes are md5-derived (functions/hashing.py) so results
are engine- and partitioning-independent — re-runnable and oracle-checkable.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

from pyspark.sql import DataFrame, Observation, Window, functions as F
from pyspark.sql import types as T

from ..functions.hashing import (
    MINHASH_P,
    md5_long,
    minhash_params,
    universal_minhash_col,
    word_ngrams,
    word_tokens,
)
from ..functions.sql import sql_ident, sql_literal
from ..functions.vector import as_double, cosine_similarity

__all__ = [
    "exact_dedup_groups",
    "dedup_exact",
    "minhash_signatures",
    "explode_bands",
    "lsh_candidate_pairs",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "simhash",
    "simhash_near_pairs",
    "embedding_lsh_candidate_pairs",
    "embedding_near_duplicates",
    "connected_components",
    "ngram_contamination",
    "duplicated_spans",
    "span_dedup_stats",
    "remove_duplicated_spans",
    "semdedup",
    "prefix_filter_candidates",
    "incremental_band_dedup",
    "signature_store_rounds",
    "signature_store_bucketed_rounds",
    "bucketed_store_probe",
    "survivorship_golden",
]


def _ensure_parallelism(df: DataFrame, min_parts: Optional[int] = None
                        ) -> DataFrame:
    """Repartition compute-heavy narrow chains when the source has too
    few splits (e.g. one parquet file): hashing a million shingles on one
    core starves the cluster. No-op when the input is already parallel —
    at real scale the scan supplies the partitions and this never fires.
    """
    sess = df.sparkSession
    target = min_parts or min(sess.sparkContext.defaultParallelism, 64)
    # Plan-safe parallelism estimate: count source files via the scan's
    # FileIndex (never df.rdd, which forces plan->RDD conversion and
    # defeats AQE). Non-file sources (createDataFrame, range, a
    # checkpoint) report no files -> leave untouched; a streaming frame
    # cannot list its files at all (inputFiles raises) and is left too.
    n_files = 0 if df.isStreaming else len(df.inputFiles())
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Hash-group exact duplicates → (content_hash, canonical_id, n_dups).

    Canonical = min(id) per group: deterministic regardless of
    partitioning. Only (hash, id) crosses the shuffle.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"),
                  F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per distinct text (the min-id row).

    Round-10 shape (guide §2.4): one unordered MIN window over the
    content-hash partition, then keep rows whose id equals it — ONE
    exchange and ONE input scan. The previous hash-group + left-semi
    form planned three exchanges (hash groupBy, probe-side re-shuffle
    by id, winner ids) and re-computed the input subtree for the probe
    side (Spark shares no common subplans across join inputs), which
    doubled upstream scoring work in pipe_corpus_clean. Shuffled
    payload volume is unchanged — each row crosses one exchange either
    way — and the kept row set is identical (ids are unique, winners
    are exactly the rows with the group-minimum id)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(F.col(text_col)))
    return (
        df.withColumn("__min_id", F.min(id_col).over(w))
        .where(F.col(id_col) == F.col("__min_id"))
        .drop("__min_id")
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: ``sig_0 .. sig_{n_hashes-1}`` columns.

    One explode of distinct shingles (:func:`doc_shingles`) + one grouped
    aggregate computing all ``n_hashes`` mins simultaneously (single
    shuffle; map-side partials).
    Hash cost is ONE md5 per shingle: the remaining components come from
    the universal-hash family ``(a_j·h + b_j) mod P`` — pure codegen'd
    integer ops (functions/hashing.py).
    """
    shingled = doc_shingles(df, text_col, id_col, shingle_n).withColumn(
        "h", md5_long(F.col("shingle")) % F.lit(MINHASH_P)
    )
    params = minhash_params(n_hashes)
    aggs = [
        universal_minhash_col(F.col("h"), a, b).alias(f"sig_{j}")
        for j, (a, b) in enumerate(params)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def explode_bands(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 12,
    band_size: int = 3,
) -> DataFrame:
    """Signature columns → one (id, band_id, band_sig) row per LSH band
    (band_sig = the band's hashes pipe-concatenated). Narrow (array
    literal + explode, no shuffle); shared by the batch candidate-pair
    join and the streaming admission filter."""
    n_bands = n_hashes // band_size
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"sig_{j}")
                        for j in range(b * band_size, (b + 1) * band_size)
                    ],
                ).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    return signatures.select(
        F.col(id_col), F.explode(band_structs).alias("band")
    ).select(
        F.col(id_col),
        F.col("band.band_id").alias("band_id"),
        F.col("band.band_sig").alias("band_sig"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 12,
    band_size: int = 3,
) -> DataFrame:
    """LSH banding: docs sharing ALL hashes within any band become a
    candidate pair → (id_a, id_b) distinct, id_a < id_b.

    Per band: an equi-join on the concatenated band signature — a hash
    join on a short string key. Bands union at the plan level; dedup is
    one distinct on the (small) pair set.
    """
    # Explode to one (doc, band_id, band_sig) row per band, then a single
    # self-equi-join on (band_id, band_sig). One pass over the signatures
    # and one hash join total — vs. one join per band, which recomputes
    # the (aggregation-backed) signature frame 2×n_bands times.
    banded = explode_bands(signatures, id_col, n_hashes, band_size)
    # The self-join would otherwise recompute the (aggregation-backed)
    # signature pipeline once per side — Spark does not share common
    # subplans across join inputs. Cache the small banded frame
    # (n_docs × n_bands short rows); at production scale persist
    # signatures to a table instead.
    # one eager job (same cost as cache+count) that also CUTS LINEAGE:
    # both self-join sides reference a materialized leaf instead of two
    # copies of the aggregation-backed signature plan
    banded = banded.localCheckpoint(eager=True)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_sig") == F.col("r.band_sig"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def doc_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """Distinct word-n-gram shingles per document → (id_col, shingle).

    The shared input of the whole n-gram similarity family
    (:func:`ngram_jaccard_pairs`, :func:`ngram_containment_pairs`,
    :func:`prefix_filter_candidates`).  Callers composing several of
    those over the SAME corpus should compute this once, materialize it
    (``localCheckpoint`` locally; write a table at production scale),
    and pass it via each operator's ``shingles=`` parameter — the
    tokenize+explode pass over the raw text is the single most
    expensive scan of the family and there is no reason to pay it per
    stage."""
    toks = word_tokens(F.col(text_col))
    return _ensure_parallelism(
        df.select(F.col(id_col), F.col(text_col))
    ).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(toks, shingle_n))).alias(
            "shingle"
        ),
    )


# Candidate-verify branch switch (module-level so tests can force the
# packed-array branch on small data): below this many candidate pairs
# the classic candidates⋈shingles⋈shingles explode join wins; above it
# the packed-array codegen verify amortizes its fixed costs (bijection
# check, array build, two broadcasts). The original 1M crossover was
# measured with the pre-r9 verify that re-evaluated array_intersect up
# to 5× per pair; with the single-evaluation barrier the array branch
# is ~3× cheaper per pair and the measured crossover moved down:
# interleaved A/B (r9) — 200k pairs (sorted_neighborhood sf1) array
# wins 20.9 → 16.1 s median, ~320k (prefix_join sf0.1) array wins
# 10.0 → 9.7 s, 20k (sorted_neighborhood sf0.1) explode wins
# 4.5 vs 5.0 s.
_ARRAY_VERIFY_MIN_CANDS = 150_000


def _shingle_pair_core(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    candidates: Optional[DataFrame],
    max_shingle_df: Optional[int],
    shingles: Optional[DataFrame] = None,
):
    """Shared machinery of the n-gram pair family: distinct shingles,
    corpus-level document-frequency cap, optional candidate pruning,
    and the intersection counts. Returns ``(inter, sizes)``
    where ``inter`` is (id_a, id_b, n_inter) and ``sizes`` is
    (id_col, n_sh) over the SAME (capped) shingle universe.

    Ordering contract: the ``max_shingle_df`` cap measures document
    frequency over the WHOLE corpus BEFORE any candidate pruning — a
    cap measured after the semi-join would depend on which pairs were
    proposed, silently diverging from the all-pairs path and any
    corpus-level SQL replay (found by review, round 4).

    ``shingles``: optional precomputed :func:`doc_shingles` output
    (must cover the same ``df``/``shingle_n``) so composed pipelines
    scan the raw text once.
    """
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(df, text_col, id_col, shingle_n)
    )
    if max_shingle_df is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") <= F.lit(max_shingle_df))
            .select("shingle")
        )
        sh = sh.join(keep, "shingle", "left_semi")
    if candidates is not None:
        # Candidate pairs are sparse: prune the shingle table to docs
        # that appear in some pair BEFORE any further shuffle. The
        # candidate-id set is small (it's a near-dup list) → broadcast
        # semi-join. localCheckpoint cuts the lineage: each downstream
        # reference would otherwise inline the whole upstream LSH plan
        # — at production scale write the pair set to a table instead.
        n_cands = Observation()
        candidates = (
            candidates.select("id_a", "id_b")
            .observe(n_cands, F.expr("count(1) AS n"))
            .localCheckpoint(eager=True)
        )
        ids = (
            candidates.selectExpr(f"id_a AS {sql_ident(id_col)}")
            .union(candidates.selectExpr(f"id_b AS {sql_ident(id_col)}"))
            .distinct()
        )
        sh = sh.join(F.broadcast(ids), id_col, "left_semi")
    # consumed three times in the all-pairs form (both join sides +
    # sizes); materialize so the tokenize/shingle chain runs once — at
    # production scale write the shingle table out instead. Skip when
    # the caller already handed us a materialized frame and no pruning
    # narrowed it (checkpointing a checkpoint would copy the blocks for
    # nothing), and in the candidates form, where each verify branch
    # checkpoints the (candidate-pruned, much smaller) frame itself
    # right before its own consumers.
    if candidates is None and not (
        shingles is not None and max_shingle_df is None
    ):
        sh = sh.localCheckpoint(eager=True)
    if candidates is None:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    elif n_cands.get["n"] < _ARRAY_VERIFY_MIN_CANDS:
        # Small candidate set: the classic candidates⋈shingles⋈shingles
        # explode join is CHEAPER here than the packed-array branch
        # below, whose fixed costs (bijection-check pass, array
        # checkpoint, two broadcast builds) only amortize once the pair
        # list is large (measured: at 320k pairs the explode join wins
        # by ~2 s; at 3.2M pairs the array branch wins by ~16 s). The
        # count was observed on the candidate checkpoint's own job.
        sh = sh.localCheckpoint(eager=True)
        sizes = sh.groupBy(id_col).agg(F.expr("count(1) AS n_sh"))
        inter = (
            candidates.select("id_a", "id_b")
            .join(sh.selectExpr(f"{sql_ident(id_col)} AS id_a", "shingle"),
                  "id_a")
            .join(
                sh.selectExpr(f"{sql_ident(id_col)} AS id_b", "shingle"),
                ["id_b", "shingle"],
            )
            .groupBy("id_a", "id_b")
            .agg(F.expr("count(1) AS n_inter"))
        )
    else:
        # Pack each candidate doc's distinct shingles into ONE array and
        # count |A∩B| with codegen ``array_intersect`` — exact (the
        # arrays are the distinct shingle STRINGS, no hashing), and it
        # replaces the old candidates⋈shingles⋈shingles explode join,
        # which shuffled |candidates| × shingles/doc rows through a
        # groupBy (measured at sf1: 24 s for 3.1M candidates × ~52
        # shingles; this form: the same count in ~3 s). The array table
        # covers only docs that appear in some candidate pair (the
        # semi-join above); broadcast is explicit — at true 100 TB scale
        # the pair list is written out and this becomes a shuffle join
        # on doc id, same plan family as the semi-join note above.
        # Intersect 64-bit shingle hashes, not strings — ~3× less
        # per-pair work — made EXACT by a one-pass bijection check: if
        # the corpus' distinct-shingle and distinct-hash counts match,
        # the hash is injective on this corpus and hashed-set
        # intersections equal string-set intersections identically.
        # On the (cosmically rare) collision the code keeps the string
        # arrays, so results never depend on hash luck. At 100 TB run
        # the check on the same pass that builds the shingle table.
        # Two consumers below (this aggregate + the packed-array build):
        # materialize the candidate-pruned frame once so a LAZY
        # caller-supplied shingles frame doesn't re-run its whole
        # tokenize/explode/semi-join chain per consumer (advisor
        # finding, round 7).
        sh = sh.localCheckpoint(eager=True)
        chk = sh.agg(
            F.expr("count(DISTINCT shingle) AS s"),
            F.expr("count(DISTINCT xxhash64(shingle)) AS h"),
        ).collect()[0]
        tok = "xxhash64(shingle)" if chk["s"] == chk["h"] else "shingle"
        arrs = sh.groupBy(id_col).agg(
            F.expr(f"collect_list({tok}) AS __arr")
        ).localCheckpoint(eager=True)
        sizes = arrs.selectExpr(sql_ident(id_col), "size(__arr) AS n_sh")
        inter = (
            candidates.select("id_a", "id_b")
            .join(
                F.broadcast(arrs.selectExpr(
                    f"{sql_ident(id_col)} AS id_a", "__arr AS __aa"
                )),
                "id_a",
            )
            .join(
                F.broadcast(arrs.selectExpr(
                    f"{sql_ident(id_col)} AS id_b", "__arr AS __ab"
                )),
                "id_b",
            )
            .selectExpr(
                "id_a",
                "id_b",
                "size(array_intersect(__aa, __ab)) AS n_inter",
                # set sizes ride along for free — callers skip the two
                # sizes joins whenever these columns are present
                "size(__aa) AS __na",
                "size(__ab) AS __nb",
                # Pushdown barrier: without a nondeterministic field in
                # this Project, Catalyst pushes this filter AND the
                # caller's threshold filter through it into the
                # broadcast-join condition, re-deriving n_inter from
                # array_intersect up to 5× per candidate pair (3× in
                # the join condition + 2× here — seen in the committed
                # r9 before-plan). One never-true OR arm referencing
                # the column keeps it alive through column pruning;
                # monotonically_increasing_id() is non-negative by
                # construction, so results are identical.
                "monotonically_increasing_id() AS __nd",
            )
            # the old join form only materialized pairs sharing ≥1
            # shingle; keep that contract for downstream ratios
            .where("n_inter > 0 OR __nd < 0")
            .drop("__nd")
        )
    return inter, sizes


def _with_sizes(inter: DataFrame, sizes: DataFrame, id_col: str
                ) -> DataFrame:
    """``(id_a, id_b, n_inter, n_a, n_b)``: the intersection counts of
    :func:`_shingle_pair_core` with both set sizes, inline on the
    packed-array path, else joined from ``sizes``."""
    if "__na" in inter.columns:
        return inter.selectExpr(
            "id_a", "id_b", "n_inter", "__na AS n_a", "__nb AS n_b"
        )
    return inter.join(
        sizes.selectExpr(f"{sql_ident(id_col)} AS id_a", "n_sh AS n_a"),
        "id_a",
    ).join(
        sizes.selectExpr(f"{sql_ident(id_col)} AS id_b", "n_sh AS n_b"),
        "id_b",
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    candidates: Optional[DataFrame] = None,
    max_shingle_df: Optional[int] = None,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """Exact n-gram-set Jaccard similarity pairs ≥ threshold →
    (id_a, id_b, jaccard).

    Without ``candidates``: |A∩B| via self-equi-join on shingle — exact
    all-pairs, quadratic in document frequency of popular shingles; fine
    for verification scale, NOT for 100 TB (a corpus where one shingle
    appears in f documents contributes f² join rows — measured: the
    exact form OOMs a 16 GB driver at ~500k docs with 10× duplicate
    replication).

    With ``candidates`` (e.g. LSH output): intersections are computed
    ONLY for the candidate pairs — candidates ⋈ shingles(id_a) ⋈
    shingles(id_b on shingle). Work is O(|candidates| × shingles/doc),
    independent of shingle popularity; this is the scale path.

    ``max_shingle_df``: optional document-frequency cap — shingles in
    more than this many documents are DROPPED before pairing (the
    CCNet-style stopword-shingle drop), bounding the self-join fan-out
    at df²·n_shingles while keeping rare-shingle evidence. The cap is
    measured over the WHOLE corpus, before any candidate pruning, so
    the candidate path and the all-pairs path score identically.
    Shared machinery: :func:`_shingle_pair_core`.
    """
    inter, sizes = _shingle_pair_core(
        df, text_col, id_col, shingle_n, candidates, max_shingle_df,
        shingles=shingles,
    )
    jac = _with_sizes(inter, sizes, id_col).selectExpr(
        "id_a", "id_b", "n_inter / (n_a + n_b - n_inter) AS jaccard"
    )
    return jac.where(
        f"jaccard >= {sql_literal(float(threshold), T.DoubleType())}"
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    candidates: Optional[DataFrame] = None,
    max_shingle_df: Optional[int] = None,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs → (id_a, id_b, n_a, n_b,
    n_inter, containment) with containment = |A∩B| / min(|A|, |B|) ≥
    threshold.  ``max_shingle_df`` caps shingle document frequency
    before pairing (corpus-level, see :func:`_shingle_pair_core`).

    The measure symmetric Jaccard misses: a short document quoted
    inside one 10× longer (boilerplate wrapper, syndicated article,
    licence block) has Jaccard ≈ 0.1 but containment ≈ 1 — the standard
    Broder containment used to catch doc-in-doc duplication in crawl
    curation.

    Same plan machinery as :func:`ngram_jaccard_pairs`
    (:func:`_shingle_pair_core` — distinct shingles, one self-equi-join
    or a candidate-pruned double join); only the final scalar differs,
    and it is a raw division of exact integers — bit-identical IEEE on
    every engine, replayable in plain SQL.
    """
    inter, sizes = _shingle_pair_core(
        df, text_col, id_col, shingle_n, candidates, max_shingle_df,
        shingles=shingles,
    )
    out = _with_sizes(inter, sizes, id_col).selectExpr(
        "id_a", "id_b", "n_a", "n_b", "n_inter",
        "n_inter / least(n_a, n_b) AS containment",
    )
    return out.where(
        f"containment >= {sql_literal(float(threshold), T.DoubleType())}"
    )


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = 24,
) -> DataFrame:
    """SimHash fingerprint: bit i set iff the token-count-weighted sum of
    (±1 per token's hash bit i) is positive → (id, simhash bigint).

    Token hashes are md5-derived 60-bit ints; one explode + ONE grouped
    aggregate with ``n_bits`` conditional sums (all codegen'd — the
    per-bit expressions are cheap integer ops on an already-computed
    hash column).

    Single-shuffle shape: summing ±1 per token OCCURRENCE is identical
    to the classic count-weighted ±w per DISTINCT token (w occurrences
    of one token contribute w equal ±1 terms), so the (id, token)
    pre-aggregation an earlier version shuffled through is pure
    overhead — exploded occurrences partial-aggregate map-side straight
    to one row per document (a document's tokens are co-located with
    it), and only ~n_docs rows reach the exchange.  At 100 TB that
    turns a token-cardinality shuffle into a doc-cardinality one.
    """
    toks = word_tokens(F.col(text_col))
    t = (
        _ensure_parallelism(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(toks).alias("tok"))
        .withColumn("h", md5_long(F.col("tok")))
    )
    one = F.lit(1).cast("long")
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                one,
            ).otherwise(-one)
        ).alias(f"s{i}")
        for i in range(n_bits)
    ]
    sums = t.groupBy(id_col).agg(*bit_sums)
    fp = None
    for i in range(n_bits):
        term = F.when(
            F.col(f"s{i}") > 0, F.lit(2 ** i).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = term if fp is None else (fp + term)
    return sums.select(F.col(id_col), fp.alias("simhash"))


def simhash_near_pairs(
    fingerprints: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bits: int = 24,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance ≤ max_hamming →
    (id_a, id_b, hamming). EXACT (100% recall) via pigeonhole banding:
    split the fingerprint's ``n_bits`` into ``max_hamming + 1`` chunks —
    two fingerprints within ``max_hamming`` differing bits must agree on
    at least one whole chunk — then equi-join on (chunk_id, chunk_value)
    and verify with ``bit_count(a XOR b)``.

    Scale shape: one narrow projection explodes each doc to
    ``max_hamming+1`` (chunk, value) keys; candidates come from a hash
    equi-join on the key (never a cross/theta join); within-bucket work
    is quadratic only in bucket size (2^chunk_width buckets per chunk).
    The XOR verify runs on candidates only, in codegen.
    """
    n_chunks = max_hamming + 1
    base, extra = divmod(n_bits, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    chunks, lo = [], 0
    for i, w in enumerate(widths):
        chunks.append(
            F.struct(
                F.lit(i).alias("chunk_id"),
                F.shiftright(F.col("simhash"), lo)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("chunk_val"),
            )
        )
        lo += w
    banded = (
        fingerprints.select(
            F.col(id_col),
            F.col("simhash"),
            F.explode(F.array(*chunks)).alias("c"),
        )
        .select(
            F.col(id_col),
            F.col("simhash"),
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.chunk_val").alias("chunk_val"),
        )
        .cache()  # tiny (id, fp, chunk) frame; both join sides reuse it
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= F.lit(max_hamming))
        .distinct()
    )


def embedding_lsh_candidate_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: Optional[int] = None,
) -> DataFrame:
    """Candidate near-dup pairs from random-hyperplane LSH: two vectors
    are candidates iff they share a bucket in ANY of ``n_tables``
    independent sign-bit tables → (id_a, id_b) distinct, id_a < id_b.

    Scale shape: the corpus is scanned once to compute all tables'
    signatures (pure codegen'd dot products against literal planes,
    similarity.py:80-92), exploded to (table, bucket) keys, and
    self-equi-joined on the key — a hash join on a long, never a cross
    product and never a driver collect. Within-bucket pairing is
    quadratic only in bucket size (tune ``n_planes`` up to shrink
    buckets). Recall per pair is ``1-(1-(1-θ/π)^n_planes)^n_tables`` —
    raise ``n_tables`` for distant thresholds.
    """
    from .similarity import hyperplane_signature, random_hyperplanes

    if dim is None:
        # dim sniff = a driver boundary (ONE row, not the corpus);
        # pass dim= explicitly to keep plan construction fully lazy
        head = df.select(vec_col).limit(1).collect()
        if not head:
            raise ValueError(
                f"cannot infer embedding dim from an empty frame; "
                f"pass dim= explicitly ({vec_col})"
            )
        dim = len(head[0][0])
    keys = []
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + 1000 * t)
        keys.append(
            hyperplane_signature(vec_col, planes).alias(f"b{t}")
        )
    tb = F.explode(
        F.array(
            *[
                F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("b"))
                for t in range(n_tables)
            ]
        )
    ).alias("tb")
    bucketed = (
        df.select(F.col(id_col), *keys)
        .select(F.col(id_col), tb)
        .select(
            F.col(id_col),
            F.col("tb.t").alias("t"),
            F.col("tb.b").alias("b"),
        )
    )
    # both join inputs are the identical (id, table, bucket) plan, so the
    # self-join's two shuffles collapse into one ReusedExchange — cheaper
    # than a .cache() (which blocks that reuse behind an InMemoryRelation
    # and pays a materialization); at production scale persist the frame
    # as a bucketed table instead and the join is co-located
    left = bucketed.alias("l")
    right = bucketed.alias("r")
    return (
        left.join(
            right,
            (F.col("l.t") == F.col("r.t"))
            & (F.col("l.b") == F.col("r.b"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: Optional[int] = None,
    candidates: Optional[DataFrame] = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold → (id_a, id_b, cosine).

    Two phases, both fully distributed (nothing is ever collected to the
    driver — at 100 TB the corpus exists only as executor partitions):

    1. **LSH candidate generation** — random-hyperplane bucket
       self-equi-join (``embedding_lsh_candidate_pairs``), or a caller-
       supplied ``candidates`` frame (e.g. IVF cells from
       similarity.ivf_topk's assignment).
    2. **Exact re-verify** — candidates join their two vectors and are
       scored with the sequential left-to-right ``aggregate`` cosine, so
       reported values are bit-identical to a SQL engine's and
       independent of partitioning.

    Approximate by construction (LSH recall < 1 for distant pairs); the
    oracle twin replicates the same literal hyperplanes, so results are
    still deterministic and cross-engine checkable.
    """
    from ..functions.vector import dot, l2_norm

    if candidates is None:
        candidates = embedding_lsh_candidate_pairs(
            df, vec_col, id_col, n_planes, n_tables, seed, dim
        )
    # precompute each vector's norm ONCE (O(n·dim)) instead of per pair
    # (O(pairs·dim)): cosine = dot/(na·nb) evaluates the same IEEE ops
    # in the same order as functions.vector.cosine_similarity, so
    # values stay bit-identical to the oracle's list_cosine_similarity
    # while the per-pair array work drops to the dot product alone —
    # the array HOFs are interpreted (outside whole-stage codegen), so
    # at millions of candidates this third of the lambda ops is the
    # whole verify cost
    va = df.select(
        F.col(id_col).alias("id_a"),
        as_double(F.col(vec_col)).alias("va"),
    ).withColumn("_na", l2_norm(F.col("va")))
    vb = df.select(
        F.col(id_col).alias("id_b"),
        as_double(F.col(vec_col)).alias("vb"),
    ).withColumn("_nb", l2_norm(F.col("vb")))
    return (
        candidates.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                dot(F.col("va"), F.col("vb"))
                / (F.col("_na") * F.col("_nb"))
            ).alias("cosine"),
            # Pushdown barrier (same idiom as _shingle_pair_core):
            # without a nondeterministic field in this Project, Catalyst
            # pushes the threshold filter through it into the verify
            # join's CONDITION, re-deriving the interpreted per-pair dot
            # product there on top of the projection's own evaluation —
            # every candidate pays the O(dim) lambda aggregate twice.
            # The never-true OR arm keeps the field alive through column
            # pruning; monotonically_increasing_id() is non-negative by
            # construction, so results are identical (NaN cosines still
            # fail the >= and are dropped, exactly as before).
            F.monotonically_increasing_id().alias("__nd"),
        )
        .where(
            (F.col("cosine") >= F.lit(threshold)) | (F.col("__nd") < 0)
        )
        .drop("__nd")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Duplicate-cluster labels from a near-dup pair list: every node
    gets the MINIMUM id reachable in its connected component →
    ``(id, cluster)``. This is the step that turns pairwise LSH/SimHash
    hits into dedup groups (keep ``id == cluster``, drop the rest).

    Distributed min-label propagation over the symmetrized edge list
    plus a self-loop ``(x, x)`` on each end of every pair: each round is
    ONE join of the labels onto the edges and ONE grouped aggregate per
    node — ``min`` of the neighbours' labels is the new label and the
    same ``min`` over the self-loop rows alone is the previous one. The
    round's change count is observed on the round's own checkpoint job
    (an :class:`~pyspark.sql.Observation`), so a round costs no job
    beyond its join and aggregate. Round 1 is the seed
    ``groupBy(u).min(v)`` (every label starts as the node's own id).
    Duplicate edges and self-loops are kept: they leave every ``min``
    unchanged, and dropping them would cost a shuffle. Converges in
    O(component diameter) rounds (near-dup
    clusters are shallow; star-contraction variants cut this to O(log d),
    see :func:`connected_components_star`). The label frame is
    ``localCheckpoint``-ed each round so the plan does not grow with the
    iteration count — at production scale point
    ``spark.sparkContext.setCheckpointDir`` at durable storage and swap
    in ``checkpoint``. A pair with a NULL end is not an edge.

    Wholly expressible as joins/aggregates — the oracle twin is a
    recursive CTE computing min-over-transitive-closure.
    """
    # both orientations plus a self-loop on each end
    edges = (
        pairs.selectExpr(
            f"CAST({sql_ident(id_a)} AS BIGINT) AS u",
            f"CAST({sql_ident(id_b)} AS BIGINT) AS v",
        )
        .where("u IS NOT NULL AND v IS NOT NULL")
        .selectExpr(
            "inline(array(named_struct('u', u, 'v', v),"
            " named_struct('u', v, 'v', u), named_struct('u', u, 'v', u),"
            " named_struct('u', v, 'v', v)))"
        )
        .localCheckpoint(eager=False)
    )
    # round 1: min over the closed neighbourhood, from the edges alone
    labels = (
        edges.groupBy("u").agg(F.expr("min(v) AS label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter - 1):
        changed = Observation()
        labels = (
            edges.join(labels.selectExpr("u AS v", "label AS vl"), "v")
            .groupBy("u")
            .agg(
                F.expr("min(vl) AS label"),
                F.expr("min(CASE WHEN u = v THEN vl END) AS prev"),
            )
            .observe(changed, F.expr("count_if(label < prev) AS n"))
            .localCheckpoint(eager=True)
            .select("u", "label")
        )
        if changed.get["n"] == 0:
            break
    else:
        # max_iter == 1 keeps the seed only if round 1 moved no label
        if max_iter != 1 or labels.where("label < u").limit(1).count():
            # labels are only partially merged: a component with
            # diameter > max_iter would silently split into several
            # clusters downstream (keep-best would then keep one doc per
            # FRAGMENT). Loud beats wrong — the caller can raise max_iter
            # (rounds needed ≈ the duplicate-cluster diameter, which is
            # small for near-dup graphs).
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "rounds; raise max_iter (component diameter exceeds it)"
            )
    return labels.selectExpr("u AS id", "label AS cluster")


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction → ``(id, cluster)`` with ``cluster`` = the component's
    minimum id — same contract as :func:`connected_components`, but
    converging in O(log d) rounds instead of O(d) (the public
    MapReduce-CC algorithm of Kiveris et al., SoCC'14: each round first
    hangs every strictly-larger neighbor off the local minimum
    (large-star), then collapses each remaining star one level
    (small-star); the edge set monotonically contracts toward one star
    per component, centered at the component minimum).

    When to prefer it: deep chain-shaped duplicate graphs (transcript
    dedup, SCD chains) where min-label's rounds ≈ diameter — at
    diameter 10⁶ min-label is 10⁶ shuffles, star contraction ~20. For
    shallow near-dup clusters (the common LSH case) min-label's one
    aggregate per round is cheaper per round, so it stays the default.

    Per round: two grouped MIN aggregates + two joins on the current
    edge set (which only shrinks), each round ``localCheckpoint``-ed so
    the plan stays O(1) deep; convergence is an EXACT fixed-point test
    (count + one-sided exceptAll), not a probabilistic checksum.
    """
    edges = pairs.select(
        F.col(id_a).cast("long").alias("u"),
        F.col(id_b).cast("long").alias("v"),
    ).where(F.col("u").isNotNull() & F.col("v").isNotNull())
    nodes = (
        edges.select("u")
        .union(edges.select(F.col("v").alias("u")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # canonical orientation: every edge points large → small
    canon = (
        edges.where(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"),
            F.least("u", "v").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = canon.count()
    for _ in range(max_iter):
        if n_edges == 0:
            break
        # large-star: on the symmetric view, hang every neighbor that is
        # LARGER than the center off m = min(N(center) ∪ {center})
        sym = canon.union(
            canon.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        big_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
        big_min = big_min.select(
            "u", F.least("mn", F.col("u")).alias("m")
        )
        ls = (
            sym.join(big_min, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: centers now only have SMALLER neighbors (ls emits
        # u > v by construction); collapse N(center) ∪ {center} onto
        # min(N(center))
        small_min = ls.groupBy("u").agg(F.min("v").alias("m"))
        nxt = (
            ls.join(small_min, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(small_min.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        n_next = nxt.count()
        if (
            n_next == n_edges
            and nxt.exceptAll(canon).limit(1).count() == 0
        ):
            canon = nxt
            break
        canon, n_edges = nxt, n_next
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds; raise max_iter"
        )
    # at the fixed point every edge is (member → component min); nodes
    # absent on the left are the minima themselves
    return (
        nodes.join(canon, "u", "left")
        .select(
            F.col("u").alias("id"),
            F.coalesce("v", "u").alias("cluster"),
        )
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_shared: int = 3,
    bench_id_col: str = "bench_id",
) -> DataFrame:
    """Benchmark-contamination check: (corpus doc, benchmark doc) pairs
    sharing at least ``min_shared`` distinct word ``n``-grams.

    The pre-training hygiene op: before a corpus feeds a training run,
    every document is screened against the evaluation suites so test
    questions don't leak into the training set (the reference library has
    no corpus ops; this extends the engine's dedup family — same shingle
    machinery as ``ngram_jaccard_pairs``).

    Scale shape: the benchmark side is an eval suite — thousands of
    documents, not billions — so its exploded shingle set is explicitly
    ``broadcast()``: the corpus-side shingles are screened by a broadcast
    hash join where they sit (ZERO corpus shuffles; the only exchange is
    the per-pair count aggregate over surviving matches, which is
    contamination-sized, not corpus-sized). Shingles are md5-hashed to
    longs before the join so the wire/state carries 8 bytes per shingle,
    never the strings.
    """
    from ..functions.hashing import md5_long, word_ngrams, word_tokens

    def shingles(df: DataFrame, out_id: str) -> DataFrame:
        toks = word_tokens(F.col(text_col))
        return (
            df.select(
                F.col(id_col).alias(out_id),
                F.explode(
                    F.array_distinct(word_ngrams(toks, n))
                ).alias("_g"),
            )
            # array_distinct above already dedups per doc — no extra
            # distinct() shuffle needed
            .select(out_id, md5_long(F.col("_g")).alias("_gh"))
        )

    corp = shingles(corpus, "doc_id")
    bench = shingles(benchmark, bench_id_col)
    return (
        corp.join(F.broadcast(bench), "_gh")
        .groupBy("doc_id", bench_id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Exact duplicated-span detection: find every maximal token span
    whose ``w``-token windows all occur ≥ ``min_count`` times in the
    corpus → (id, span_start, span_end, n_windows), token offsets
    0-based, end exclusive.

    This is the window-granular form of exact substring deduplication
    for training corpora (suffix-array ExactSubstr dedup quantized to
    ``w``-token boundaries): a span is reported iff every length-``w``
    window inside it is corpus-duplicated, and spans are maximal —
    overlapping/adjacent duplicated windows are merged by a classic
    gaps-and-islands pass.

    Plan shape at 100 TB: windowing is a narrow higher-order projection
    (``sequence`` → ``slice`` → ``array_join``; no shuffle); the global
    window-frequency count is ONE shuffle of (shingle, partial-count)
    pairs with map-side combine; survivors join back on the shingle key
    (corpus text is scanned twice but NEVER shuffled — only derived
    keys and (id, start) pairs move); island-merge shuffles just the
    surviving window positions. Skewed hot shingles (boilerplate) are
    bounded by the count aggregate's partial combine; the join side
    receives only distinct duplicated shingles.
    """
    toks = word_tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_toks")).where(
        F.size("_toks") >= w
    )
    windows = base.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(_toks) - {w}), "
                f"s -> array_join(slice(_toks, s + 1, {w}), ' '))"
            )
        ).alias("start", "shingle"),
    )
    dup = (
        windows.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") >= min_count)
        .select("shingle")
    )
    hits = windows.join(dup, "shingle").select(
        id_col, "start", (F.col("start") + w).alias("end")
    )
    prev_max_end = F.max("end").over(
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = hits.select(
        id_col,
        "start",
        "end",
        F.when(
            prev_max_end.isNull() | (F.col("start") > prev_max_end),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("_new"),
    ).select(
        id_col,
        "start",
        "end",
        F.sum("_new")
        .over(
            Window.partitionBy(id_col)
            .orderBy("start")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("_island"),
    )
    return islands.groupBy(id_col, "_island").agg(
        F.min("start").alias("span_start"),
        F.max("end").alias("span_end"),
        F.count(F.lit(1)).alias("n_windows"),
    ).select(id_col, "span_start", "span_end", "n_windows")


def span_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-span summary → (id, n_tokens,
    n_dup_spans, dup_tokens, dup_frac): how much of each document is
    covered by corpus-duplicated spans (the drop/trim signal an
    ExactSubstr-style cleaning pass acts on). Documents with no
    duplicated span (or shorter than ``w`` tokens) report zeros."""
    spans = duplicated_spans(
        df, text_col=text_col, id_col=id_col, w=w, min_count=min_count
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("dup_tokens"),
    )
    toks = word_tokens(F.col(text_col))
    return (
        df.select(F.col(id_col), F.size(toks).cast("long").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias(
                "n_dup_spans"
            ),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias(
                "dup_tokens"
            ),
            F.round(
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens"),
                6,
            ).alias("dup_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Cut every corpus-duplicated span (see :func:`duplicated_spans`)
    out of every document → (id, clean_text, kept_tokens,
    removed_tokens). The remove-all-copies ExactSubstr cleaning policy:
    text whose every ``w``-window repeats elsewhere disappears from the
    corpus entirely; unique text is untouched.

    Plan shape: spans are interval-exploded back to (id, pos) pairs
    (bounded by the duplicated-token count, not the corpus), removed
    from the token stream by a left-anti join on (id, pos), and the
    surviving tokens re-assemble per doc via a sorted-struct
    ``collect_list`` — one grouped aggregate whose payload is exactly
    the kept tokens. Nothing driver-side; text never shuffles except as
    the kept (id, pos, token) triples feeding the reassembly.
    """
    toks = word_tokens(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_toks"))
    positions = base.select(
        id_col, F.posexplode("_toks").alias("pos", "tok")
    )
    spans = duplicated_spans(
        df, text_col=text_col, id_col=id_col, w=w, min_count=min_count
    )
    dup_pos = spans.select(
        id_col,
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end") - 1)
        ).alias("pos"),
    )
    kept = positions.join(dup_pos, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("kept_tokens"),
    )
    return (
        base.select(id_col, F.size("_toks").cast("long").alias("_n"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("kept_tokens", F.lit(0)).cast("long").alias(
                "kept_tokens"
            ),
            (
                F.col("_n") - F.coalesce("kept_tokens", F.lit(0))
            ).cast("long").alias("removed_tokens"),
        )
    )


def semdedup(
    df: DataFrame,
    centroids: List[List[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication" — public paper; method only): cluster the embedding
    space, then screen for near-duplicate pairs WITHIN each cluster
    only, dropping all but one member of every near-dup star.

    ``centroids`` is a fitted k-means model (``similarity.kmeans_fit``).
    Verdict rule: a vector is dropped iff some LOWER-id vector in the
    same cluster has cosine ≥ ``threshold`` with it (the paper keeps
    one representative per duplicate group; we pick the smallest id —
    deterministic, engine-independent, and a single join instead of an
    iterative greedy).

    100 TB shape: assignment is a zero-shuffle codegen projection
    against centroid literals (``kmeans_assign``); the pair screen is a
    self-equi-join keyed by cluster id — the corpus shuffles once on
    ``cell`` and the quadratic term is bounded by cluster size, which
    the caller controls via k (SemDeDup's own scalability argument).
    Nothing is ever collected.

    Returns one row per vector: ``(id, cell, n_dup_lower, max_cosine,
    keep)`` with cosines rounded to ``round_to`` for cross-engine
    hashing.
    """
    from .similarity import kmeans_assign

    from ..functions.vector import dot, l2_norm

    vecs = df.select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )
    asg = kmeans_assign(vecs, centroids, "__v", "cell", round_to=round_to)
    # norms once per vector, not per pair (same bit-exact rewrite as
    # embedding_near_duplicates: the interpreted array HOFs are the
    # whole cost of the quadratic within-cell screen)
    asg = asg.withColumn("_nv", l2_norm(F.col("__v")))
    a = asg.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("va"),
        F.col("_nv").alias("_na"), "cell",
    )
    b = asg.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("vb"),
        F.col("_nv").alias("_nb"), "cell",
    )
    cos = F.round(
        dot(F.col("va"), F.col("vb")) / (F.col("_na") * F.col("_nb")),
        round_to,
    )
    dups = (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("cell", "id_b", cos.alias("cos"))
        .where(F.col("cos") >= threshold)
        .groupBy("id_b")
        .agg(
            F.count(F.lit(1)).alias("n_dup_lower"),
            F.max("cos").alias("max_cosine"),
        )
    )
    return (
        asg.join(dups, asg["__id"] == dups["id_b"], "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("cell").cast("long").alias("cell"),
            F.coalesce("n_dup_lower", F.lit(0)).cast("long").alias(
                "n_dup_lower"
            ),
            "max_cosine",
            F.when(F.col("n_dup_lower").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .alias("keep"),
        )
    )


def prefix_filter_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold_bp: int = 3000,
    shingles: Optional[DataFrame] = None,
) -> DataFrame:
    """EXACT set-similarity join candidates via prefix filtering (the
    ppjoin/AllPairs family, public algorithm): two shingle sets with
    Jaccard ≥ t MUST share a token inside their prefixes of length
    ``|S| − ⌈t·|S|⌉ + 1`` when every set is ordered by ascending global
    document frequency (rarest first) — a theorem, not a probabilistic
    bound, so unlike MinHash/LSH banding the candidate set has
    **guaranteed 100% recall**. The complementary size filter
    (t·|A| ≤ |B| ≤ |A|/t) prunes cross-size pairs inside the join
    condition.

    PPJoin positional filter (also exact): let P be the set of shingles
    the two PREFIXES share, and w* its globally most frequent member.
    Any x ∈ A∩B outside P must rank after w* in both documents — if x
    ranked before a token that sits inside both prefixes, x would sit
    inside both prefixes too (ranks below a prefix member's are prefix
    positions) and hence inside P.  So:

        |A∩B| ≤ |P| + min(|A| − rk_A(w*), |B| − rk_B(w*))

    while Jaccard ≥ t forces |A∩B| ≥ t/(1+t)·(|A|+|B|).  Pairs whose
    positional bound can't reach that floor are dropped BEFORE the
    verify stage ever sees them — on templated corpora (the 100 TB
    reality: boilerplate headers, licence blocks) this is the
    difference between millions of candidates and the near-dup count
    (measured at sf1: 5.97 M raw prefix pairs).  |P| and the max ranks
    fall out of the same per-pair aggregation that deduplicates the
    join, so the filter costs nothing beyond the groupBy the old
    ``.distinct()`` already paid.  Integer basis points throughout; the
    bound check multiplies instead of dividing.

    100 TB shape: one shingle-keyed shuffle for the document frequency
    (a count window, so no join back to the shingle table), one
    doc-keyed shuffle that ranks each document's shingles ONCE into a
    sorted list (rarest-first, tie-broken by the shingle string so both
    engines rank identically), and ONE equi-join of the PREFIX slices
    of those lists. The index prefix is never longer than the probing
    one, so both join sides slice the same exploded list — no second
    rank pass. The prefixes are a small slice of the full posting
    lists, and the frequency ordering puts precisely the rarest (lowest
    fan-out) tokens in them. The count window shuffles every (doc,
    shingle) row where a partial aggregate would shuffle one row per
    distinct shingle and partition; it saves the aggregate's separate
    job and the join back, which cost more at corpus-shard sizes. The
    pair aggregation takes count + max ranks per side; both maxes land
    on w* because document rank order restricted to shared tokens is
    the global rarity order.

    Returns DISTINCT (id_a, id_b) with id_a < id_b — feed to
    ``ngram_jaccard_pairs(candidates=...)`` for verification.
    ``shingles``: optional precomputed :func:`doc_shingles` output —
    pass the SAME frame to the verify call so the text is scanned once.
    """
    sh = (
        shingles
        if shingles is not None
        else doc_shingles(df, text_col, id_col, shingle_n)
    ).selectExpr(f"{sql_ident(id_col)} AS __id", "shingle")
    # each doc's shingles in rarest-first order, tie-broken by the
    # shingle string so both engines rank identically
    ranked = (
        sh.where("shingle IS NOT NULL")
        .selectExpr(
            "__id", "shingle", "count(1) OVER (PARTITION BY shingle) AS __df"
        )
        .groupBy("__id")
        .agg(F.expr("sort_array(collect_list(struct(__df, shingle))) AS __l"))
        .selectExpr("__id", "__l", "CAST(size(__l) AS BIGINT) AS __n")
    )
    t_bp = int(threshold_bp)
    # PROBING prefix: n − ⌈t·n⌉ + 1 (the Jaccard prefix); INDEX prefix:
    # n − ⌈(2t/(1+t))·n⌉ + 1 — the shorter prefix PPJoin proves
    # sufficient for the side whose partner is at least as large
    # (overlap floor t/(1+t)·(|A|+|B|) ≥ 2t/(1+t)·|B| when |B| ≤ |A|).
    # The join therefore pairs each doc's probing prefix with the INDEX
    # prefixes of its size-or-smaller partners (ties broken by id) —
    # the same exact guarantee with materially fewer equi-join rows
    # (the index prefix is ~⅓·n vs ~½·n at t = 0.5). All integer basis
    # points: ⌈n·2t/(1+t)⌉ = (2·t_bp·n + (10000+t_bp) − 1) div
    # (10000+t_bp). The index prefix is never longer than the probing
    # one, so both sides are slices of the same exploded probing prefix.
    n_probe = f"__n - (__n * {t_bp} + 9999) div 10000 + 1"
    n_index = (
        f"__n - (__n * {2 * t_bp} + {10000 + t_bp} - 1) div {10000 + t_bp}"
        " + 1"
    )
    probe = ranked.selectExpr(
        "__id",
        "__n",
        f"{n_index} AS __ni",
        "posexplode(slice(__l, 1, "
        f"CAST(greatest({n_probe}, 0) AS INT))) AS (__pos, __e)",
    ).selectExpr(
        "__id", "__e.shingle AS shingle", "__n", "__pos + 1 AS __rk", "__ni"
    )
    a = probe.selectExpr(
        "__id AS id_a", "shingle", "__n AS __na", "__rk AS __rka"
    )
    b = probe.where("__rk <= __ni").selectExpr(
        "__id AS id_b", "shingle", "__n AS __nb", "__rk AS __rkb"
    )
    return (
        a.join(b, "shingle")
        # size order (probing side is the larger set, id tiebreak) —
        # the asymmetric-prefix validity condition; size filter:
        # t·|A| ≤ |B| (≤ |A| is implied by the order)
        .where(
            "(__nb < __na OR (__nb = __na AND id_b < id_a))"
            f" AND __nb * 10000 >= __na * {t_bp}"
        )
        # per-pair |P| + max rank on each side (both maxes land on w*,
        # the most frequent shared prefix token) — the groupBy replaces
        # the old .distinct() at the same shuffle cost and feeds the
        # positional filter
        .groupBy("id_a", "id_b", "__na", "__nb")
        .agg(
            F.expr("count(1) AS __p"),
            F.expr("max(__rka) AS __ra"),
            F.expr("max(__rkb) AS __rb"),
        )
        # positional filter: (|P| + min(|A|-rk_A(w*), |B|-rk_B(w*)))
        # ·(1+t) ≥ t·(|A|+|B|), in basis points (× instead of ÷:
        # exact integers)
        .where(
            "(__p + least(__na - __ra, __nb - __rb))"
            f" * {10000 + t_bp} >= (__na + __nb) * {t_bp}"
        )
        # size order put the larger doc on the a side; restore the
        # id_a < id_b output contract (each unordered pair was produced
        # in exactly one orientation, so no distinct is needed)
        .selectExpr(
            "least(id_a, id_b) AS id_a", "greatest(id_a, id_b) AS id_b"
        )
    )


def incremental_band_dedup(
    corpus_docs: DataFrame,
    batch_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 3,
) -> DataFrame:
    """Incremental-ingest dedup: admit a NEW batch of documents against
    an EXISTING corpus without ever re-pairing the corpus with itself —
    the shape a 100 TB training-data pipeline actually runs daily
    (the all-pairs LSH of :func:`lsh_candidate_pairs` is the
    bootstrap; this is steady state).

    Decision per batch document, in order:

    1. ``dup_corpus`` — any of its MinHash LSH bands (band_id,
       band_sig) already appears in the corpus band index. The index
       is ``n_bands`` short strings per corpus doc, DISTINCT-ed — a
       compact, mergeable structure that in production persists
       between runs and only ever grows by the admitted docs' bands,
       so each ingest costs one equi-join of batch bands against it:
       O(|batch|·n_bands) probe rows, ZERO corpus re-scans of text.
    2. ``dup_batch`` — survives the corpus check but another surviving
       batch doc with the SAME text (md5) and a smaller id exists
       (within-batch exact collapse; near-dup collapse within the
       batch is the bootstrap operator applied to the batch alone).
    3. ``admitted`` — everything else; these docs' bands are what the
       production run would append to the index.

    Returns (id, content_hash, status) for every batch document —
    deterministic, order-independent, SQL-replayable end to end.
    """
    corpus_index = (
        explode_bands(
            minhash_signatures(
                corpus_docs, text_col=text_col, id_col=id_col,
                n_hashes=n_hashes, shingle_n=shingle_n,
            ),
            id_col=id_col, n_hashes=n_hashes, band_size=band_size,
        )
        .select("band_id", "band_sig")
        .distinct()
    )
    batch_bands = explode_bands(
        minhash_signatures(
            batch_docs, text_col=text_col, id_col=id_col,
            n_hashes=n_hashes, shingle_n=shingle_n,
        ),
        id_col=id_col, n_hashes=n_hashes, band_size=band_size,
    )
    dup_corpus = (
        batch_bands.join(corpus_index, ["band_id", "band_sig"], "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("__dupc", F.lit(1))
    )
    flagged = (
        batch_docs.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("content_hash")
        )
        .join(dup_corpus, id_col, "left")
    )
    # min surviving id per content hash decides dup_batch vs admitted;
    # docs already dup_corpus are excluded from the min (a text whose
    # only earlier twin was itself corpus-duplicated must NOT shadow).
    w = Window.partitionBy("content_hash")
    surv_min = F.min(
        F.when(F.col("__dupc").isNull(), F.col(id_col))
    ).over(w)
    return flagged.select(
        F.col(id_col),
        "content_hash",
        F.when(F.col("__dupc").isNotNull(), F.lit("dup_corpus"))
        .when(F.col(id_col) == surv_min, F.lit("admitted"))
        .otherwise(F.lit("dup_batch"))
        .alias("status"),
    )


def signature_store_rounds(
    spark,
    splits,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 3,
) -> DataFrame:
    """Persisted-MinHash-store dedup: process corpus increments in
    order against a band-signature table ON DISK, and return every LSH
    candidate pair discovered across the ingest history →
    (id_a, id_b) distinct, id_a < id_b.

    The versioned-state companion to :func:`incremental_band_dedup`
    (which rebuilds the corpus index per call): here the index is a
    parquet table of (doc_id, band_id, band_sig) rows that persists
    between ingests and grows by exactly the new batch's bands, so
    ingest k costs one probe equi-join of |batch_k|·n_bands rows
    against the store plus one append — the corpus text is NEVER
    re-scanned.

    Exactness theorem (the oracle gate): the returned pair set equals
    :func:`lsh_candidate_pairs` over the UNION of all splits. Any pair
    (a, b) sharing a band with a ingested at step s ≤ t of b is found
    either by step t's within-batch self-join (s == t) or by its probe
    against the store (s < t — the store holds every doc from steps
    < t, duplicates included: the store is a signature index, not an
    admission list, and dropping rejected docs' bands would lose
    candidates a full recompute finds). Conversely every discovered
    pair shares a band. Hash-matching the full-recompute SQL oracle on
    the grown corpus is therefore the incremental == full equality, the
    same discipline as ``stream_checkpoint_resume``.

    Layout: each append is repartitioned on ``band_sig`` — the
    bucket-file layout that keeps probe joins bucket-local; at
    production scale this is a bucketed catalog table (storage-
    partitioned join) and the probe never shuffles the store side.
    Each step's discoveries are materialized BEFORE its append so no
    probe can observe its own batch in the store.

    Bootstrap semantics: stale state from an earlier run is replaced by
    step 0's ``mode("overwrite")`` write — storage-agnostic (works the
    same on object stores, no driver-local filesystem assumption).
    An empty ``splits`` returns an empty (id_a, id_b) frame and leaves
    any existing store untouched.
    """
    if not splits:
        return spark.createDataFrame([], "id_a long, id_b long")
    found = None
    for step, docs in enumerate(splits):
        bands = explode_bands(
            minhash_signatures(
                docs, text_col=text_col, id_col=id_col,
                n_hashes=n_hashes, shingle_n=shingle_n,
            ),
            id_col=id_col, n_hashes=n_hashes, band_size=band_size,
        ).localCheckpoint(eager=True)
        a, b = bands.alias("a"), bands.alias("b")
        within = a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        step_found = within
        if step > 0:
            store = spark.read.parquet(store_dir)
            cross = (
                bands.join(
                    store.withColumnRenamed(id_col, "__old"),
                    ["band_id", "band_sig"],
                )
                .where(F.col("__old") != F.col(id_col))
                .select(
                    F.least("__old", id_col).alias("id_a"),
                    F.greatest("__old", id_col).alias("id_b"),
                )
            )
            step_found = within.unionByName(cross)
        # materialize this step's discoveries before the append below
        # mutates the store directory the probe read from
        step_found = step_found.distinct().localCheckpoint(eager=True)
        found = (
            step_found
            if found is None
            else found.unionByName(step_found)
        )
        bands.repartition(F.col("band_sig")).write.mode(
            "overwrite" if step == 0 else "append"
        ).parquet(store_dir)
    return found.distinct()


def signature_store_bucketed_rounds(
    spark,
    splits,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 12,
    band_size: int = 3,
    shingle_n: int = 3,
    n_buckets: int = 8,
) -> DataFrame:
    """:func:`signature_store_rounds` in its PRODUCTION layout: the
    persisted band-signature store is a catalog table BUCKETED BY the
    probe keys (band_id, band_sig) (``bucketBy(n).sortBy(...).
    saveAsTable``), so each ingest's probe equi-join reads the store's
    buckets in place — the executed plan has NO Exchange above the
    store-side scan, ever, no matter how large the store has grown.
    Only the (small) incoming batch's bands are shuffled, to the
    store's bucket count. A store-side in-place Sort remains: each
    append adds files per bucket, and Spark only trusts ``sortBy``
    metadata with one file per bucket — but a sort never moves data
    across the cluster; the claim being pinned is ZERO store-side
    exchanges, i.e. probe cost is O(batch shuffle + store bucket
    sort-merge), independent of store size.

    Semantics are identical to :func:`signature_store_rounds` (same
    exactness theorem; appends grow the table by exactly the batch's
    bands; step 0 overwrites stale state; empty splits → empty result,
    store untouched). The shape is pinned by
    ``tests/test_round9_ops.py::test_bucketed_store_probe_no_store_side_exchange``.
    """
    if not splits:
        return spark.createDataFrame([], "id_a long, id_b long")
    # Bootstrap: replace stale state. DROP TABLE removes a previous
    # session's catalog entry AND its data; with a session-scoped
    # (in-memory) catalog a leftover table LOCATION can survive the
    # entry, so clear it through the Hadoop FileSystem API (works on
    # any storage the warehouse lives on, not just local disk).
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc.sc()
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    loc = jvm.org.apache.hadoop.fs.Path(warehouse, table.lower())
    loc.getFileSystem(jsc.hadoopConfiguration()).delete(loc, True)
    found = None
    for step, docs in enumerate(splits):
        bands = explode_bands(
            minhash_signatures(
                docs, text_col=text_col, id_col=id_col,
                n_hashes=n_hashes, shingle_n=shingle_n,
            ),
            id_col=id_col, n_hashes=n_hashes, band_size=band_size,
        ).localCheckpoint(eager=True)
        a, b = bands.alias("a"), bands.alias("b")
        within = a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        step_found = within
        if step > 0:
            cross = bucketed_store_probe(
                spark, bands, table, id_col=id_col
            )
            step_found = within.unionByName(cross)
        step_found = step_found.distinct().localCheckpoint(eager=True)
        found = (
            step_found
            if found is None
            else found.unionByName(step_found)
        )
        (
            bands.write.bucketBy(n_buckets, "band_id", "band_sig")
            .sortBy("band_id", "band_sig")
            .mode("overwrite" if step == 0 else "append")
            .format("parquet")
            .saveAsTable(table)
        )
    return found.distinct()


def bucketed_store_probe(
    spark, bands: DataFrame, table: str, id_col: str = "doc_id"
) -> DataFrame:
    """One ingest probe against the bucketed signature store: the
    incoming batch's bands equi-joined to the catalog table on
    (band_id, band_sig) → cross-batch candidate pairs. Factored out so
    the no-store-side-exchange plan shape can be asserted directly."""
    store = spark.table(table)
    return (
        bands.join(
            store.withColumnRenamed(id_col, "__old"),
            ["band_id", "band_sig"],
        )
        .where(F.col("__old") != F.col(id_col))
        .select(
            F.least("__old", id_col).alias("id_a"),
            F.greatest("__old", id_col).alias("id_b"),
        )
    )


def survivorship_golden(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_chars",
    lang_col: str = "lang",
    source_col: str = "source",
) -> DataFrame:
    """Golden-record survivorship over duplicate clusters — the step
    AFTER :func:`connected_components` that entity resolution actually
    ships: one canonical row per cluster, each attribute chosen by an
    explicit, deterministic rule instead of "whichever copy won the
    shuffle":

    * ``canonical_id`` — the longest member (``len_col`` desc), id
      ascending as the tiebreak (keep-best-by-length, the curation
      default for near-dup text);
    * ``top_lang`` — the plurality vote over members, ties broken by
      the value itself ascending (mode with a total order);
    * ``n_members`` / ``n_sources`` / ``total_chars`` — cluster audit
      facts (how much redundancy the cluster removes and whether it
      spans sources, the cross-site-boilerplate signal).

    100 TB shape: ONE equi-join of the cluster labels against the doc
    attributes, then two cluster-keyed windows and one cluster-keyed
    aggregate — everything shuffles on the cluster key once; no
    all-pairs work, no driver-side anything.
    """
    members = clusters.select(
        F.col("id").alias(id_col), "cluster"
    ).join(
        docs.select(id_col, len_col, lang_col, source_col), id_col
    ).localCheckpoint(eager=True)
    # clustered-member attributes feed three consumers (keep-best rank,
    # language vote, audit facts); checkpointing stops the cluster
    # labeling (an iterative job) from replaying per consumer
    wbest = Window.partitionBy("cluster").orderBy(
        F.col(len_col).desc(), F.col(id_col).asc()
    )
    best = (
        members.withColumn("__rk", F.row_number().over(wbest))
        .where(F.col("__rk") == 1)
        .select(
            "cluster",
            F.col(id_col).alias("canonical_id"),
            F.col(len_col).cast("long").alias("canonical_chars"),
        )
    )
    lang_counts = members.groupBy("cluster", lang_col).agg(
        F.count(F.lit(1)).alias("__c")
    )
    wlang = Window.partitionBy("cluster").orderBy(
        F.col("__c").desc(), F.col(lang_col).asc()
    )
    top_lang = (
        lang_counts.withColumn("__rk", F.row_number().over(wlang))
        .where(F.col("__rk") == 1)
        .select("cluster", F.col(lang_col).alias("top_lang"))
    )
    facts = members.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.count_distinct(F.col(source_col)).alias("n_sources"),
        F.sum(F.col(len_col).cast("long")).alias("total_chars"),
    )
    return (
        facts.join(best, "cluster")
        .join(top_lang, "cluster")
        .select(
            "cluster", "n_members", "canonical_id", "canonical_chars",
            "top_lang", "n_sources", "total_chars",
        )
    )
