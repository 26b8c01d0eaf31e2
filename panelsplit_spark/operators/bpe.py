"""Distributed BPE (byte-pair-encoding) vocabulary induction and
encoding — the tokenizer-training primitive of an LLM data pipeline.

Reference scope note: the panelsplit reference has no tokenizer; this is
part of the mandated training-data-pipeline extension (SURVEY §7), built
from the published BPE algorithm (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units") in its classic *scalable*
formulation: train on the **word-frequency table**, not the corpus.
Tokenizing 100 TB of text yields a distinct-word table orders of
magnitude smaller than the corpus (and it is the only thing the merge
loop ever touches), so

* building the word table is ONE shuffle over the corpus (partial
  aggregation on the word key — the map side collapses duplicates long
  before the exchange);
* each merge round is ONE aggregation over the cached word table
  (adjacent-pair counts weighted by word frequency) plus a driver
  collect of a single row (the argmax pair) and a narrow, fully
  codegen'd ``replace`` to apply the merge;
* encoding is **zero-shuffle**: the learned merge list is a tiny
  driver-side object applied as a chain of ``replace`` expressions —
  whole-stage-codegen string ops, no Python, no UDF.

Symbol-boundary representation
------------------------------
A word's current segmentation is a string ``|s1||s2||...||sk|`` — every
symbol wrapped in its own ``|`` markers. Applying merge ``(a, b)`` is
then the plain (non-regex) string replacement ``|a||b| → |ab|``:

* adjacent occurrences never share characters, so left-to-right
  non-overlapping replace-all — the semantics of both Spark's
  ``replace`` and DuckDB's ``replace`` — applies the merge at every
  site in one pass, exactly like the reference algorithm's per-word
  scan (for overlapping runs, e.g. ``aaa`` under merge ``(a,a)``,
  left-to-right greedy matches standard BPE);
* the representation is SQL-replayable verbatim, which is what makes
  the fixpoint oracle-checkable cross-engine (see queries_llm.py).

Words are restricted to ``^[a-z]+$`` so the marker glyph can never
collide with symbol text.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..functions.hashing import adjacent_pairs, word_tokens

__all__ = [
    "WORD_PATTERN",
    "word_frequency_table",
    "bpe_fit",
    "bpe_merge_frame",
    "bpe_segment_expr",
    "bpe_token_count_expr",
]

#: Only pure-ASCII-letter words participate (the marker glyph ``|`` and
#: digits/punctuation stay out of the symbol alphabet).
WORD_PATTERN = "^[a-z]+$"


def word_frequency_table(
    docs: DataFrame,
    text_col: str = "text",
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """``(word, wt [, *extra_keys])`` — occurrence counts of tokenized
    words. One partial-aggregated shuffle on the word key; with
    ``extra_keys`` (e.g. ``["source"]``) the count is per key-group so
    callers can re-weight or slice without rescanning the corpus."""
    keys = [*extra_keys, "word"]
    return (
        docs.select(
            *extra_keys,
            F.explode(word_tokens(F.col(text_col))).alias("word"),
        )
        .where(F.col("word").rlike(WORD_PATTERN))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("wt"))
    )


def _initial_repr(word: Column) -> Column:
    """``cat`` → ``|c||a||t|`` — each character its own symbol."""
    return F.regexp_replace(word, "(.)", r"|$1|")


def _pair_counts(reprs: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts over ``(rep, wt)`` rows, weighted by
    word frequency. All array work is Catalyst higher-order functions;
    the only shuffle is the final pair-key aggregation."""
    syms = F.split(
        F.expr("substring(rep, 2, length(rep) - 2)"), r"\|\|"
    )
    pairs = adjacent_pairs(syms, "lhs", "rhs")
    return (
        reprs.select(F.explode(pairs).alias("p"), "wt")
        .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        .agg(F.sum("wt").alias("pair_count"))
    )


def bpe_fit(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
    words: Optional[DataFrame] = None,
) -> List[Dict]:
    """Learn ``n_merges`` BPE merges from a corpus.

    Returns the merge list ``[{merge_round, lhs, rhs, merged,
    pair_count}, ...]`` (driver-side; it is vocabulary-sized tiny).
    Deterministic: the argmax pair ties break on ``(lhs, rhs)``
    lexicographically, so two runs — or two engines — always learn the
    identical sequence.

    Scale shape: ``n_merges`` aggregations over the *cached
    distinct-word table*; the corpus is scanned exactly once (word
    table build). The per-round collect is ONE row.
    """
    wt = words if words is not None else word_frequency_table(docs, text_col)
    reprs = wt.select(
        _initial_repr(F.col("word")).alias("rep"), "wt"
    ).cache()
    merges: List[Dict] = []
    try:
        for r in range(1, n_merges + 1):
            top = (
                _pair_counts(reprs)
                .orderBy(
                    F.col("pair_count").desc(), F.col("lhs"), F.col("rhs")
                )
                .limit(1)
                .collect()
            )
            if not top:
                break
            lhs, rhs, cnt = top[0].lhs, top[0].rhs, top[0].pair_count
            merges.append(
                {
                    "merge_round": r,
                    "lhs": lhs,
                    "rhs": rhs,
                    "merged": lhs + rhs,
                    "pair_count": int(cnt),
                }
            )
            # Applying the merge is a narrow codegen replace; re-cache so
            # the next round's aggregation reads the merged reprs, then
            # release the previous round's storage.
            nxt = reprs.select(
                F.replace(
                    F.col("rep"),
                    F.lit(f"|{lhs}||{rhs}|"),
                    F.lit(f"|{lhs}{rhs}|"),
                ).alias("rep"),
                "wt",
            ).cache()
            nxt.count()
            reprs.unpersist()
            reprs = nxt
    finally:
        reprs.unpersist()
    return merges


def bpe_merge_frame(spark: SparkSession, merges: List[Dict]) -> DataFrame:
    """Merge list → a tiny DataFrame ``(merge_round, lhs, rhs, merged,
    pair_count)`` for joining/inspection."""
    return spark.createDataFrame(
        [
            (
                m["merge_round"],
                m["lhs"],
                m["rhs"],
                m["merged"],
                m["pair_count"],
            )
            for m in merges
        ],
        "merge_round long, lhs string, rhs string, merged string, "
        "pair_count long",
    )


def bpe_segment_expr(word: Column, merges: List[Dict]) -> Column:
    """Segmentation of ``word`` under the learned merges, as the
    boundary-marked string ``|s1||s2||...|``. A chain of ``n_merges``
    plain replaces — pure whole-stage-codegen, applied in merge-rank
    order exactly as BPE encoding prescribes."""
    rep = _initial_repr(word)
    for m in merges:
        rep = F.replace(
            rep,
            F.lit("|%s||%s|" % (m["lhs"], m["rhs"])),
            F.lit("|%s|" % m["merged"]),
        )
    return rep


def bpe_token_count_expr(word: Column, merges: List[Dict]) -> Column:
    """Number of BPE tokens ``word`` encodes to: half the marker count
    of its segmented representation (each symbol carries exactly two
    ``|``). Avoids any array materialization."""
    rep = bpe_segment_expr(word, merges)
    return (
        (F.length(rep) - F.length(F.replace(rep, F.lit("|"), F.lit(""))))
        / F.lit(2)
    ).cast("long")
