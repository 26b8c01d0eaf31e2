"""Cross-engine-stable hashing & shingling column functions.

Everything here is built from **md5 over explicit strings** — the one hash
both Spark and any ANSI-SQL oracle (DuckDB, Trino, …) compute identically —
so dedup signatures are reproducible across engines and across cluster
topologies (no dependence on partitioning, JVM hash seeds, or
``xxhash64``'s engine-specific variants). All expressions are built-in
Catalyst functions: codegen'd, no Python in the row loop.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = [
    "md5_long",
    "word_tokens",
    "word_ngrams",
    "adjacent_pairs",
    "minhash_col",
    "minhash_params",
    "universal_minhash_col",
    "MINHASH_P",
]


def md5_long(col: Column) -> Column:
    """Deterministic 60-bit integer hash: first 15 hex chars of md5.

    Oracle-SQL twin: ``CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def word_tokens(col: Column) -> Column:
    """Lowercased whitespace tokens (oracle: string_split(lower(x),' '))."""
    return F.split(F.lower(col), " ")


def word_ngrams(tokens: Column, n: int) -> Column:
    """Word n-gram shingles from a token array, space-joined.

    Catalyst higher-order functions only, linear in document length:
    the ``n`` shifted views ``slice(tokens, k, m)`` (``m = size-n+1``)
    are zipped into one array of n-tuples and a ``transform`` joins
    each tuple — no explode needed until the caller wants rows.

    ``tokens`` appears only as an argument of the higher-order function,
    never inside its lambda: the caller's token expression (typically
    ``split(lower(text), ' ')``) is not a bound value, and a lambda that
    references it re-evaluates it for every output element — a
    ``slice(tokens, i, n)`` body cost O(words²) per document.

    Guarded for short docs: ``slice`` rejects the negative length that
    fewer-than-n tokens give ``m``, so those (and NULL text) yield an
    explicitly empty shingle set.
    """
    m = F.size(tokens) - F.lit(n - 1)
    windows = F.arrays_zip(*[F.slice(tokens, k, m) for k in range(1, n + 1)])
    return F.when(
        F.size(tokens) >= F.lit(n),
        F.transform(
            windows,
            lambda s: F.concat_ws(" ", *[s[str(k)] for k in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def adjacent_pairs(tokens: Column, left: str, right: str) -> Column:
    """Adjacent token pairs as ``struct<left, right>`` in token order,
    linear like :func:`word_ngrams`: two shifted slices zipped, so the
    token expression is never re-evaluated inside the lambda. Fewer than
    two tokens (and NULL) give an explicitly empty array."""
    m = F.size(tokens) - F.lit(1)
    return F.when(
        F.size(tokens) >= F.lit(2),
        F.transform(
            F.arrays_zip(F.slice(tokens, 1, m), F.slice(tokens, 2, m)),
            lambda s: F.struct(s["0"].alias(left), s["1"].alias(right)),
        ),
    ).otherwise(
        F.array().cast(f"array<struct<{left}:string,{right}:string>>")
    )


def minhash_col(shingle: Column, seed: int) -> Column:
    """One minhash component: the *string-min* of ``md5(seed|shingle)``.

    String-min of a uniformly distributed hex digest is a valid minhash
    (order statistics on any total order work) and is exactly reproducible
    in SQL: ``min(md5(concat('<seed>|', shingle)))``. Use as an aggregate.

    Simple but computes one md5 per (shingle, seed); prefer the universal-
    hash family below for many-hash signatures (one md5 total).
    """
    return F.min(F.md5(F.concat(F.lit(f"{seed}|"), shingle)))


#: Mersenne prime 2^31−1: universal-hash modulus. With h < P31 and
#: a < P31, a*h + b < 2^62 — no BIGINT overflow in either engine.
MINHASH_P = 2147483647


def minhash_params(n_hashes: int, seed: int = 7):
    """Deterministic (a_j, b_j) universal-hash coefficients, shared
    verbatim between engine code and oracle SQL."""
    import numpy as np

    rng = np.random.default_rng(seed)
    return [
        (
            int(rng.integers(1, MINHASH_P)),
            int(rng.integers(0, MINHASH_P)),
        )
        for _ in range(n_hashes)
    ]


def universal_minhash_col(base_hash: Column, a: int, b: int) -> Column:
    """One minhash component from a shared base hash: integer-min of the
    universal hash ``(a·h + b) mod P31``.

    The base hash (one md5 per shingle, via :func:`md5_long` ``% P31``)
    is computed once; each additional component is two codegen'd integer
    ops — 12-hash signatures cost 1 md5, not 12. SQL twin:
    ``min((a * h + b) % 2147483647)``.
    """
    return F.min(
        (F.lit(a) * base_hash + F.lit(b)) % F.lit(MINHASH_P)
    )
