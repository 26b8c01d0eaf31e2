"""The two dedup kernels on the corpus_dedup hot path: word n-gram
shingles (``functions/hashing.word_ngrams``) and min-label connected
components (``operators/dedup.connected_components``), plus the
adjacent-pair kernel (``functions/hashing.adjacent_pairs``) behind the
bigram language model and BPE pair counts.

``word_ngrams`` is checked against the plain-Python reference on the
degenerate texts (NULL, empty, short, irregular spacing) and pinned to
its linear shape: the caller's token expression must never appear
inside the ``transform`` lambda, where Catalyst would re-evaluate it
once per output element. ``connected_components`` is checked against a
driver-side union-find and at its ``max_iter`` boundary.
"""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from panelsplit_spark.functions.hashing import (
    adjacent_pairs,
    word_ngrams,
    word_tokens,
)
from panelsplit_spark.operators import bpe, text
from panelsplit_spark.operators.dedup import connected_components

TEXTS = [
    None,
    "",
    " ",
    "a",
    "A b",
    "one two three",
    "a  b c",
    "  lead b c d e",
    "trail x y z w  ",
    "The quick brown fox jumps over the lazy dog",
    "x  y   z  w v",
]


def _ref_ngrams(s, n):
    if s is None:
        return []
    t = s.lower().split(" ")
    return [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]


@pytest.mark.parametrize("n", [1, 2, 3, 5])
def test_word_ngrams_match_python_reference(spark, n):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "i int, text string"
    )
    got = {
        r["i"]: list(r["g"])
        for r in df.select(
            "i", word_ngrams(word_tokens(F.col("text")), n).alias("g")
        ).collect()
    }
    assert got == {i: _ref_ngrams(t, n) for i, t in enumerate(TEXTS)}


def _lambda_bodies(expr: str):
    """The body of every ``x -> body`` lambda in a rendered column: the
    text after the arrow up to the close of the enclosing call."""
    out = []
    for m in re.finditer(r"\w+ -> ", expr):
        depth, j = 0, m.end()
        while j < len(expr) and depth >= 0:
            depth += {"(": 1, ")": -1}.get(expr[j], 0)
            j += 1
        out.append(expr[m.end():j - 1])
    return out


@pytest.mark.parametrize("n", [2, 3])
def test_word_ngrams_lambda_never_retokenizes(spark, n):
    """The token expression is an argument of the higher-order function
    only: a ``split``/``lower`` inside the lambda body is evaluated once
    per shingle, which makes each document cost O(words²)."""
    expr = str(word_ngrams(word_tokens(F.col("text")), n))
    bodies = _lambda_bodies(expr)
    assert bodies, expr
    for body in bodies:
        assert "split(" not in body and "lower(" not in body, body


def test_adjacent_pairs_match_python_reference(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "i int, text string"
    )
    got = {
        r["i"]: [(p["w1"], p["w2"]) for p in r["g"]]
        for r in df.select(
            "i", adjacent_pairs(word_tokens(F.col("text")), "w1", "w2")
            .alias("g")
        ).collect()
    }
    want = {}
    for i, t in enumerate(TEXTS):
        toks = [] if t is None else t.lower().split(" ")
        want[i] = list(zip(toks, toks[1:]))
    assert got == want


def _plan_lambda_bodies(plan: str):
    """The argument text of every ``lambdafunction(...)`` in a rendered
    logical plan: the lambda body followed by its bound variables."""
    out = []
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, j = 0, m.end()
        while j < len(plan) and depth >= 0:
            depth += {"(": 1, ")": -1}.get(plan[j], 0)
            j += 1
        out.append(plan[m.end():j - 1])
    return out


def _bigram_plan(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a b"), (2, "b c d")], "doc_id int, text string"
    )
    return text.lm_bigram_score(docs)


def _bpe_pair_plan(spark):
    reprs = spark.createDataFrame([("|c||a||t|", 3)], "rep string, wt long")
    return bpe._pair_counts(reprs)


@pytest.mark.parametrize("build", [_bigram_plan, _bpe_pair_plan])
def test_pair_sites_lambda_never_resplits(spark, build):
    """The bigram LM and BPE pair counts zip two slices of the split
    text: a ``split`` inside the lambda body re-splits the text for
    every pair, O(words²) per document."""
    plan = build(spark)._jdf.queryExecution().analyzed().toString()
    bodies = _plan_lambda_bodies(plan)
    assert bodies, plan
    for body in bodies:
        assert "split(" not in body, body


def _cc(spark, edges, **kw):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["id"]: r["cluster"]
        for r in connected_components(pairs, **kw).collect()
    }


def test_connected_components_empty_pairs(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    out = connected_components(pairs)
    assert out.columns == ["id", "cluster"]
    assert out.count() == 0


def test_connected_components_duplicate_reversed_and_self_pairs(spark):
    edges = [(3, 1), (1, 3), (3, 1), (3, 3), (7, 7), (9, 8), (8, 9),
             (5, 9)]
    assert _cc(spark, edges) == {1: 1, 3: 1, 7: 7, 5: 5, 8: 5, 9: 5}


def test_connected_components_null_end_is_not_an_edge(spark):
    edges = [(1, 2), (2, None), (None, 4), (None, None)]
    assert _cc(spark, edges) == {1: 1, 2: 1}


def test_connected_components_random_forest_vs_union_find(spark):
    """A seeded random forest (shuffled ids, every edge listed in a
    random orientation, some twice) against a driver-side union-find."""
    rng = np.random.default_rng(20261019)
    n_nodes = 60
    ids = rng.permutation(1000)[:n_nodes].tolist()
    edges = []
    for k in range(1, n_nodes):
        if rng.random() < 0.8:  # otherwise k roots a new tree
            p = int(rng.integers(0, k))
            a, b = ids[k], ids[p]
            edges.append((a, b) if rng.random() < 0.5 else (b, a))
    edges += [edges[int(i)] for i in rng.integers(0, len(edges), 5)]

    parent = {x: x for e in edges for x in e}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    assert _cc(spark, edges) == {x: find(x) for x in parent}


def test_connected_components_max_iter_boundary(spark):
    """A path whose minimum sits at one end needs ``length + 1`` rounds
    (the last one sees no change): it converges at ``max_iter = 5`` and
    raises at ``max_iter = 4``."""
    path = [(i, i + 1) for i in range(10, 14)]
    assert _cc(spark, path, max_iter=5) == {i: 10 for i in range(10, 15)}
    with pytest.raises(RuntimeError, match="did not converge in 4"):
        _cc(spark, path, max_iter=4)
    # one round suffices only when round 1 moves no label
    assert _cc(spark, [(4, 4)], max_iter=1) == {4: 4}
    with pytest.raises(RuntimeError, match="did not converge in 1"):
        _cc(spark, [(4, 5)], max_iter=1)
