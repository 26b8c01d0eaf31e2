"""Seeded input generators. They see only a seed and sizes; the package
sees only what they produce."""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd


def request_rng(seed: int, workload: str, index: int) -> np.random.Generator:
    """Independent stream per (seed, workload, request index)."""
    return np.random.default_rng([seed, zlib.crc32(workload.encode()), index])


def panel(rng: np.random.Generator, n_rows: int, n_periods: int,
          n_features: int, binary: bool = False) -> pd.DataFrame:
    """A linear panel: ``row_id``, ``period`` (int), ``x0..``, ``y``.

    Every period gets at least one row. With ``binary`` the target is
    the sign of the linear signal plus noise, as 0/1 ints.
    """
    period = np.concatenate([
        np.arange(n_periods),
        rng.integers(0, n_periods, n_rows - n_periods),
    ]).astype(np.int32)
    X = rng.normal(size=(n_rows, n_features))
    beta = rng.normal(size=n_features)
    y = X @ beta + 0.5 * rng.normal(size=n_rows)
    if binary:
        y = (y > 0).astype(np.int32)
    df = pd.DataFrame(X, columns=[f"x{i}" for i in range(n_features)])
    df.insert(0, "period", period)
    df.insert(0, "row_id", np.arange(n_rows, dtype=np.int64))
    df["y"] = y
    return df


def _words(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` random lowercase words of 3 to 8 letters (with repeats)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    chars = letters[rng.integers(0, 26, (n, 8))]
    lengths = rng.integers(3, 9, n)
    return np.array(["".join(c[:k]) for c, k in zip(chars, lengths)])


# corpus: vocabulary draws, share of base documents that get copies, and
# the range of the share of words a copy replaces
VOCAB = 20000
DUP_SHARE = 0.3
EDIT_LO, EDIT_HI = 0.02, 0.2


def corpus(rng: np.random.Generator, n_docs: int) -> tuple:
    """A corpus with planted near-duplicate families.

    Returns ``(docs, families)``: ``docs`` has ``doc_id`` (int64) and
    ``text`` (single-space separated lowercase words); ``families`` lists
    the doc ids of each planted family. A family is a base document plus
    one to three copies, each with a share of its words replaced at
    random (between ``EDIT_LO`` and ``EDIT_HI``), so family members land
    on both sides of a Jaccard threshold near 0.5. Unrelated documents
    draw from ``VOCAB`` words and share almost no word 3-grams.
    """
    words = np.unique(_words(rng, VOCAB))
    texts, families = [], []
    while len(texts) < n_docs:
        base = words[rng.integers(0, len(words), rng.integers(40, 81))]
        family = [len(texts)]
        texts.append(base)
        if rng.random() < DUP_SHARE:
            for _ in range(int(rng.integers(1, 4))):
                if len(texts) >= n_docs:
                    break
                copy = base.copy()
                hit = rng.random(len(copy)) < rng.uniform(EDIT_LO, EDIT_HI)
                copy[hit] = words[rng.integers(0, len(words), hit.sum())]
                family.append(len(texts))
                texts.append(copy)
        if len(family) > 1:
            families.append(family)
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    docs = pd.DataFrame({"doc_id": ids, "text": [" ".join(t) for t in texts]})
    return docs, [[int(ids[i]) for i in f] for f in families]
