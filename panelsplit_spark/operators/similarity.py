"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how a 100 TB pipeline actually runs ANN:

* **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against the corpus; cosine is a codegen'd
  ``zip_with``/``aggregate`` chain; top-k is a per-query window. One
  shuffle (the window's partition-by-query), corpus scanned once.
* **random-hyperplane LSH buckets** — the scale path: h sign-bits of
  seeded hyperplane projections form a bucket key; candidate generation
  is an equi-join on the key (hash join, no cross product), then exact
  cosine re-ranks the candidates. Hyperplanes are generated from a seeded
  RNG on the driver and inlined as literal arrays — deterministic across
  runs, engines, and partitionings.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..functions.vector import (
    as_double,
    cosine_similarity,
    dot,
    sql_as_double,
    sql_dot,
    sql_double_array,
)

__all__ = [
    "cosine_topk",
    "kcenter_sample",
    "random_hyperplanes",
    "hyperplane_signature",
    "lsh_topk",
    "ivf_topk",
    "label_centroids",
    "kmeans_fit",
    "kmeans_assign",
    "centroid_frame",
    "gram_matrix",
    "pca_fit",
    "pca_from_moments",
    "pca_project",
    "pq_fit",
    "pq_encode",
    "pq_topk",
    "knn_classify",
    "ivfpq_topk",
    "topk_recall",
]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Exact top-k neighbors per query → (query_id, neighbor_id, cosine,
    rank). Queries are broadcast; ranking orders by the *rounded* cosine
    with an id tiebreak so results are reproducible to the last ulp
    across engines."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    cos = cosine_similarity(F.col("qv"), F.col("cv"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> List[List[float]]:
    """Seeded Gaussian hyperplanes, rounded to 6dp so the same literals
    can be inlined into engine code AND oracle SQL."""
    rng = np.random.default_rng(seed)
    return [
        [round(float(x), 6) for x in rng.standard_normal(dim)]
        for _ in range(n_planes)
    ]


def hyperplane_signature(
    vec, planes: Sequence[Sequence[float]]
) -> Column:
    """LSH bucket key: one sign-bit per hyperplane, packed into a long.

    ``vec`` is the array column's NAME: the whole signature is emitted as
    one SQL string and parsed JVM-side in a single call — the Column-API
    equivalent costs a py4j round-trip per node (~1.5 s of driver time
    per 8-plane table; see functions/vector.py SQL-text builders). A
    Column is still accepted for backward compatibility via the slow
    path."""
    if isinstance(vec, Column):
        vd = as_double(vec)
        sig = F.lit(0).cast("long")
        for i, p in enumerate(planes):
            plane = F.lit([float(x) for x in p])
            bit = F.when(
                dot(vd, plane) > 0, F.lit(2 ** i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            sig = sig + bit
        return sig
    vd = sql_as_double(vec)
    terms = [
        "(CASE WHEN %s > 0 THEN %dL ELSE 0L END)"
        % (sql_dot(vd, sql_double_array(p)), 2 ** i)
        for i, p in enumerate(planes)
    ]
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(terms))


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    dim: Optional[int] = None,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Approximate top-k: candidates = same LSH bucket in ANY of
    ``n_tables`` independent hash tables, re-ranked by exact cosine →
    (query_id, neighbor_id, cosine, rank).

    Plan shape (the part that matters at 100 TB): the corpus is scanned
    exactly TWICE and shuffled NEVER — one scan computes all table
    signatures and explodes them to (table, bucket) pairs joined against
    the broadcast exploded query buckets (a hash join, no cross
    product); the second scan re-ranks by joining the broadcast deduped
    candidate list. More tables → higher recall, linearly more candidate
    work; more planes per table → smaller buckets → less work, lower
    per-table recall.
    """
    if dim is None:
        dim = len(
            corpus.select(vec_col).limit(1).collect()[0][0]
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # all tables' bucket keys in ONE projection per side, exploded to
    # (table, bucket) join keys
    c_keys, q_keys = [], []
    for t in range(n_tables):
        planes = random_hyperplanes(dim, n_planes, seed + 1000 * t)
        c_keys.append(hyperplane_signature("cv", planes).alias(f"b{t}"))
        q_keys.append(hyperplane_signature("qv", planes).alias(f"b{t}"))

    def tb(prefix: str):
        return F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"{prefix}{t}").alias("b")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("tb")

    c_pairs = c.select("neighbor_id", *c_keys).select("neighbor_id", tb("b"))
    q_b = q.select("query_id", "qv", *q_keys)
    q_pairs = q_b.select("query_id", tb("b"))
    cands = (
        c_pairs.join(F.broadcast(q_pairs), "tb")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    cos = cosine_similarity(F.col("qv"), F.col("cv"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = (
        c.join(F.broadcast(cands), "neighbor_id")
        .join(F.broadcast(q_b.select("query_id", "qv")), "query_id")
        .select("query_id", "neighbor_id", cos.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _cell_assign(
    df: DataFrame,
    cent: DataFrame,
    out_id: str,
    vec_out: str,
    rank_max: int,
    round_to: Optional[int],
    keep_rank: bool = False,
) -> DataFrame:
    """Voronoi cell assignment against a (cell_id, cvec) centroid set:
    each row keeps its ``rank_max`` nearest cells (broadcast cross-join
    + per-row rank window — the corpus is never shuffled). ``keep_rank``
    additionally emits ``crank``, the 1-based nearness rank, which is
    what lets one assignment at the LARGEST probe count serve every
    smaller one (``crank <= p`` ≡ an assignment computed at
    ``rank_max=p``, because row_number does not depend on the cutoff)."""
    cos = cosine_similarity(F.col(vec_out), F.col("cvec"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    w = Window.partitionBy(out_id).orderBy(
        F.desc("ccos"), F.asc("cell_id")
    )
    cols = [out_id, vec_out, "cell_id"] + (
        ["crank"] if keep_rank else []
    )
    return (
        df.crossJoin(F.broadcast(cent))
        .withColumn("ccos", cos)
        .withColumn("crank", F.row_number().over(w))
        .where(F.col("crank") <= rank_max)
        .select(*cols)
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: Optional[DataFrame] = None,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into ``n_cells``
    Voronoi cells around centroid vectors, then search each query only in
    its ``n_probe`` nearest cells — the inverted-file pattern every
    vector store uses to avoid scanning the full corpus.

    Centroids default to the ``n_cells`` lowest-id corpus vectors so the
    whole computation is deterministic and oracle-checkable; in
    production pass k-means centroids (e.g. ``spark.ml`` KMeans centers)
    — the plan shape is identical. Cell assignment is a broadcast join
    against the tiny centroid set (no shuffle of the corpus), so the
    only shuffles are the candidate equi-join on ``cell_id`` and the
    final per-query top-k window. At scale, persist the assignment
    (``cell_id`` as a partition column) and candidate generation becomes
    a partition-pruned scan.
    """
    if centroids is None:
        centroids = corpus.orderBy(F.col(id_col)).limit(n_cells)
    cent = centroids.select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cvec")
    )

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c_cells = _cell_assign(c, cent, "neighbor_id", "cv", 1, round_to)
    q_cells = _cell_assign(q, cent, "query_id", "qv", n_probe, round_to)

    cos = cosine_similarity(F.col("qv"), F.col("cv"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    scored = (
        c_cells.join(
            F.broadcast(q_cells.select("query_id", "qv", "cell_id")),
            "cell_id",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cos.alias("cosine"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def ivf_probe_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int,
    probes,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: Optional[DataFrame] = None,
    round_to: Optional[int] = 6,
):
    """:func:`ivf_topk` at several probe counts from ONE scored pass —
    the tuning-curve shape. Per probe count ``p`` the result is
    EXACTLY ``ivf_topk(..., n_probe=p)``, because probe candidate sets
    nest: a query's ``p``-probe candidates are its ``max(probes)``-probe
    candidates with cell-nearness rank ``crank <= p``. So the corpus
    cell assignment, the candidate join, and every per-candidate
    interpreted cosine are computed once at the largest probe count and
    materialized; each smaller count is a filter + re-rank over that
    table, instead of its own full IVF run (a 3-point sweep used to pay
    3 corpus assignments and ~sum(p) candidate cosines — compute-once
    over the dominant interpreted-lambda cost).

    Returns ``{p: DataFrame}`` with the same columns as ivf_topk.
    Raises ``ValueError`` on an empty ``probes``.
    """
    probes = sorted({int(p) for p in probes})
    if not probes:
        raise ValueError("ivf_probe_sweep needs at least one probe count")
    pmax = probes[-1]
    if centroids is None:
        centroids = corpus.orderBy(F.col(id_col)).limit(n_cells)
    cent = centroids.select(
        F.col(id_col).alias("cell_id"), F.col(vec_col).alias("cvec")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c_cells = _cell_assign(c, cent, "neighbor_id", "cv", 1, round_to)
    q_cells = _cell_assign(
        q, cent, "query_id", "qv", pmax, round_to, keep_rank=True
    )
    cos = cosine_similarity(F.col("qv"), F.col("cv"))
    if round_to is not None:
        cos = F.round(cos, round_to)
    # one candidate pass at pmax, scored once; the per-pair cosine is
    # the whole verify cost, so the sweep materializes it instead of
    # re-deriving it per probe point (at production scale write this
    # table out instead)
    scored = (
        c_cells.join(
            F.broadcast(
                q_cells.select("query_id", "qv", "cell_id", "crank")
            ),
            "cell_id",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", cos.alias("cosine"), "crank"
        )
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    out = {}
    for p in probes:
        out[p] = (
            scored.where(F.col("crank") <= p)
            .drop("crank")
            .dropDuplicates(["query_id", "neighbor_id"])
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
        )
    return out


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: float = 1_000_000.0,
) -> DataFrame:
    """Per-label embedding centroid in long form → (label, pos, n,
    centroid): the mean of each vector component over the label group.

    Determinism at scale: float sums are partition-order-dependent, so
    each component is scaled to integer micro-units (exact float→double
    promotion, one double multiply, round to long) and summed EXACTLY;
    the final mean is one deterministic double division. Plan shape: one
    posexplode (narrow) + one grouped aggregate with map-side partials —
    shuffle carries (label, pos, partial-sum) only, never vectors.
    """
    exploded = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos0", "val"),
    ).select(
        "label",
        # 1-based to match SQL array subscripts
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("val") * F.lit(scale)).cast("long").alias("mu"),
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("mu").alias("s"))
        .select(
            "label",
            "pos",
            "n",
            # unrounded integer-micro mean: bit-identical division of
            # exact integers on both engines (round(x,6) tie-flips)
            (F.col("s") / F.lit(scale) / F.col("n")).alias("centroid"),
        )
    )


def kmeans_assign(
    df: DataFrame,
    centroids: List[List[float]],
    vec_col: str = "embedding",
    cell_col: str = "cell",
    round_to: Optional[int] = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (squared L2, first
    index wins ties) → adds ``cell_col``. The centroid list is inlined
    as Catalyst literals, so assignment is a pure codegen'd narrow
    projection — the corpus is never shuffled and nothing is collected.

    ``round_to`` quantizes each squared distance before the argmin —
    float sums of 64 products differ by ulps across engines/summation
    orders, so rounding makes the assignment (and everything downstream
    of it) reproducible against an independent SQL replay.

    The whole k-distance argmin is emitted as ONE SQL string parsed
    JVM-side (functions/vector.py SQL-text builders) — Column-API
    composition of k literal-array aggregates costs seconds of py4j
    driver time per call, which multiplies by ``n_iter`` inside
    :func:`kmeans_fit`.
    """
    vd = sql_as_double(vec_col)

    def sqdist(c: List[float]) -> str:
        d = (
            f"aggregate(zip_with({vd}, {sql_double_array(c)}, "
            f"(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x)"
        )
        return f"round({d}, {round_to})" if round_to is not None else d

    dists = "array(" + ", ".join(sqdist(c) for c in centroids) + ")"
    cell = (
        f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
    )
    return df.withColumn(cell_col, F.expr(cell))


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_iter: int = 5,
    scale: float = 1_000_000.0,
    round_to: Optional[int] = 6,
) -> List[List[float]]:
    """Distributed Lloyd k-means over an embedding column; returns the
    ``k`` centroid vectors (the model — a k×dim list, driver-sized by
    definition).

    Built for the 100 TB shape: initialization is the ``k`` smallest
    ``md5(id)`` vectors (a deterministic hash sample — no rand(), no
    full sort: TakeOrdered over a narrow projection); each Lloyd round
    is ONE distributed pass — broadcast-literal assignment
    (:func:`kmeans_assign`, zero shuffle) + a single grouped aggregate
    whose partial sums are exact integer micro-units (order-independent,
    so the fit is bit-reproducible under any partitioning). Per round
    only k×dim numbers return to the driver. Empty cells keep their
    previous centroid. Use the result as ``centroids`` for
    :func:`ivf_topk` (convert via ``centroid_frame``).
    """
    vecs = df.select(
        F.col(id_col).alias("__id"), as_double(F.col(vec_col)).alias("__v")
    )
    init_rows = (
        vecs.withColumn("__h", F.md5(F.col("__id").cast("string")))
        .orderBy("__h", "__id")
        .limit(k)
        .collect()
    )
    centroids = [list(r["__v"]) for r in init_rows]
    dim = len(centroids[0])
    vecs = vecs.localCheckpoint(eager=False)
    for _ in range(n_iter):
        assigned = kmeans_assign(
            vecs, centroids, "__v", "__cell", round_to=round_to
        )
        exploded = assigned.select(
            "__cell", F.posexplode("__v").alias("pos", "val")
        ).select(
            "__cell",
            "pos",
            F.round(F.col("val") * F.lit(scale)).cast("long").alias("mu"),
        )
        stats = (
            exploded.groupBy("__cell", "pos")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("mu").alias("s"))
            .collect()
        )
        new = [list(c) for c in centroids]
        # one pass over the k·dim stat rows (a per-cell scan would be
        # O(k²·dim) driver work at large k); empty cells keep their
        # previous centroid
        per_cell: dict = {}
        for r in stats:
            per_cell.setdefault(r["__cell"], []).append(r)
        for cell, comp in per_cell.items():
            if len(comp) != dim:
                raise RuntimeError(
                    f"kmeans_fit: cell {cell} produced {len(comp)} "
                    f"component stats, expected {dim}"
                )
            for r in comp:
                new[cell][r["pos"]] = r["s"] / scale / r["n"]
        centroids = new
    return centroids


def centroid_frame(
    spark, centroids: List[List[float]],
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Package driver-side centroids as the (id, vector) frame
    :func:`ivf_topk` expects (ids 0..k-1 = cell ids)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField(vec_col, T.ArrayType(T.DoubleType())),
        ]
    )
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    return spark.createDataFrame(rows, schema)


def gram_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    scale: float = 1000.0,
) -> DataFrame:
    """Distributed exact second-moment (Gram) matrix of an embedding
    column → long-form ``(i, j, n, sum_xy)`` with 1-based indices, upper
    triangle only (``i <= j``; the matrix is symmetric).

    This is the reduction step under PCA / whitening / covariance
    estimation over a 100 TB embedding corpus: ``cov = (sum_xy −
    sum_x·sum_y/n)/n`` is driver arithmetic once these d² cells exist,
    and the eigendecomposition of a d×d matrix is a microsecond of
    driver numpy — only THIS aggregate touches the data.

    Scale/determinism design:

    * components are quantized to integer units (``round(x·scale)`` —
      exact float→double promotion, one multiply) so partial sums are
      EXACT integer adds: partition- and engine-order-independent, which
      is what lets DuckDB hash-match the result.
    * per Arrow batch, one int64 ``qᵀq`` numpy matmul produces the d×d
      partial; a task emits d(d+1)/2 rows per batch — the shuffle
      carries partial matrices, never vectors. ``sum_xy`` is summed as
      decimal(38,0) so no practical corpus overflows.
    * returned values are raw quantized sums; divide by ``scale²`` (and
      n) driver-side for the float moment/covariance.
    """
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("n_part", T.LongType()),
            T.StructField("sum_part", T.LongType()),
        ]
    )

    def partial_gram(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = np.stack(pdf[vec_col].values).astype(np.float64)
            q = np.rint(mat * scale).astype(np.int64)
            # the int64 matmul wraps SILENTLY on overflow — bound each
            # batch's worst cell (rows · max|q|²) before computing
            m = float(np.abs(q).max(initial=0))
            if len(pdf) * m * m >= float(2 ** 63):
                raise ValueError(
                    "gram_matrix: quantized products overflow int64 "
                    "within a batch — lower `scale` (bound: "
                    "rows·(scale·max|x|)² < 2^63)"
                )
            g = q.T @ q
            d = g.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "i": (iu + 1).astype(np.int32),
                    "j": (ju + 1).astype(np.int32),
                    "n_part": np.int64(len(pdf)),
                    "sum_part": g[iu, ju],
                }
            )

    parts = df.select(vec_col).mapInPandas(partial_gram, schema=out_schema)
    return (
        parts.groupBy("i", "j")
        .agg(
            F.sum("n_part").alias("n"),
            F.sum(F.col("sum_part").cast("decimal(38,0)")).alias("_s"),
        )
        .select(
            "i",
            "j",
            "n",
            # exact integer value; BIGINT output for cross-engine
            # hashing. The decimal(38,0) accumulation cannot overflow in
            # practice, but a silent out-of-range cast (NULL / wrap under
            # non-ANSI mode) would corrupt the covariance downstream —
            # so the cast is guarded: out-of-range raises instead.
            F.when(
                F.abs(F.col("_s"))
                <= F.lit(str(2 ** 63 - 1)).cast("decimal(38,0)"),
                F.col("_s").cast("long"),
            )
            .otherwise(
                F.raise_error(
                    F.lit(
                        "gram_matrix: sum_xy overflows BIGINT — lower "
                        "`scale` (bound: n·(scale·max|x|)² < 2^63)"
                    )
                )
            )
            .alias("sum_xy"),
        )
    )


def pca_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    scale: float = 1000.0,
):
    """Distributed PCA fit over an embedding column → ``(components,
    mean, explained_variance)`` with ``components`` a k×d list of lists
    (rows = principal axes, deterministically sign-normalized so the
    largest-|loading| entry is positive).

    Execution split, the right shape for 100 TB: the DATA work is two
    exact integer reductions — the Gram matrix (:func:`gram_matrix`,
    d(d+1)/2 cells) and the component sums (one grouped aggregate after
    posexplode) — everything after (covariance assembly, ``numpy.eigh``
    of a d×d symmetric matrix, sign fix) is microseconds of driver
    arithmetic on d² numbers. No vector ever leaves the executors; no
    iteration, no convergence parameter.

    Both reductions quantize to integer units (exact adds, partition-
    order-independent) so a re-run on any topology yields bit-identical
    components.
    """
    head = df.select(vec_col).limit(1).collect()
    if not head:
        raise ValueError("pca_fit: input frame has no rows")
    d = len(head[0][0])
    cells = gram_matrix(df, vec_col=vec_col, scale=scale).collect()
    n = cells[0]["n"]
    S = np.zeros((d, d))
    for r in cells:
        S[r["i"] - 1, r["j"] - 1] = r["sum_xy"]
        S[r["j"] - 1, r["i"] - 1] = r["sum_xy"]
    sums = (
        df.select(F.posexplode(as_double(F.col(vec_col))).alias("p", "v"))
        .select(
            "p", F.round(F.col("v") * F.lit(scale)).cast("long").alias("q")
        )
        .groupBy("p")
        .agg(F.sum("q").alias("s"))
        .collect()
    )
    mu_q = np.zeros(d)
    for r in sums:
        mu_q[r["p"]] = r["s"]
    return pca_from_moments(S, mu_q, n, k, scale)


def pca_from_moments(S, mu_q, n: int, k: int, scale: float):
    """Driver half of the PCA fit: quantized second-moment matrix ``S``
    (raw integer sums as float64, d×d symmetric) + quantized component
    sums ``mu_q`` (raw integer sums, length d) → ``(components, mean,
    explained_variance)``.

    Split out from :func:`pca_fit` so an independent replay (e.g. the
    DuckDB oracle, which recomputes the SAME exact integer moments with
    SQL over the raw parquet) produces bit-identical components: given
    identical integer moments, every operation here is deterministic
    IEEE double arithmetic plus ``numpy.linalg.eigh`` on the same d×d
    matrix, ending in the deterministic largest-|loading|-positive sign
    canonicalization."""
    mu = mu_q / (n * scale)
    cov = S / (scale * scale * n) - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    comps = []
    for idx in order:
        v = evecs[:, idx]
        # deterministic sign: largest-|loading| coordinate positive
        j = int(np.argmax(np.abs(v)))
        if v[j] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return comps, [float(x) for x in mu], [float(evals[i]) for i in order]


def pca_project(
    df: DataFrame,
    components,
    mean,
    vec_col: str = "embedding",
    out_col: str = "pc",
) -> DataFrame:
    """Project vectors onto fitted principal axes → adds ``out_col``
    (array<double>, length k). Components and mean are inlined as
    Catalyst literals — a pure codegen'd narrow projection like
    :func:`kmeans_assign`: the corpus is never shuffled, nothing is
    collected, and the same compiled plan serves batch or streaming
    frames."""
    centered = (
        f"zip_with({sql_as_double(vec_col)}, {sql_double_array(mean)}, "
        f"(a, b) -> a - b)"
    )
    projs = ", ".join(
        sql_dot(centered, sql_double_array(c)) for c in components
    )
    return df.withColumn(out_col, F.expr(f"array({projs})"))


# ----------------------------------------------------------------------
# Product quantization (PQ) — memory-compressed ANN
# ----------------------------------------------------------------------
#
# Reference scope: the reference library has no vector search; this is
# part of the mandated LLM-data-pipeline extension (ANN over an
# embedding column). PQ is the standard memory-compression tier between
# brute force and IVF: each vector is stored as m sub-space code ids
# (m bytes instead of 4·dim), and query distance is a table lookup —
# at 100 TB the encoded corpus is ~64× smaller than the raw floats, so
# the scan that brute force cannot afford becomes a cheap codes-only
# scan with no shuffle at all.


def _argmin_code_sql(
    vec_sql: str, centroids: List[List[float]], round_to: int = 6
) -> str:
    """SQL text: index (0-based) of the nearest centroid to ``vec_sql``
    by 6dp-rounded squared L2, first index winning ties — the same
    contract as :func:`kmeans_assign`, emitted as one JVM-parsed
    expression."""
    dists = "array(" + ", ".join(
        "round(aggregate(zip_with(%s, %s, (a, b) -> (a - b) * (a - b)), "
        "0.0D, (acc, x) -> acc + x), %d)"
        % (vec_sql, sql_double_array(c), round_to)
        for c in centroids
    ) + ")"
    return f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k_codes: int = 8,
    n_iter: int = 2,
    sample_mod: int = 5,
    scale: float = 1_000_000.0,
    round_to: int = 6,
    dim: Optional[int] = None,
) -> List[List[List[float]]]:
    """Train per-subspace PQ codebooks → ``m`` lists of ``k_codes``
    centroids (each of length ``dim/m``).

    Codebooks are always trained on a sample (their size is constant in
    corpus scale); the sample here is the deterministic congruence class
    ``id % sample_mod == 0`` so an independent SQL replay can reproduce
    the fit exactly. All ``m`` subspaces advance through each Lloyd
    round in ONE distributed pass — a single projection assigns every
    subspace's code, one grouped aggregate returns the m·k·(dim/m)
    exact integer-micro-unit component sums — so the whole fit costs
    1 init job + ``n_iter`` aggregate jobs regardless of ``m`` (the
    per-subspace-sequential alternative costs m× that in job launches).
    Determinism contracts match :func:`kmeans_fit` exactly per
    subspace: md5-sample init, 6dp-rounded assignment with lowest-code
    ties, exact integer means, empty cells keep their centroid.
    """
    if dim is None:
        dim = len(df.select(vec_col).limit(1).collect()[0][0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    sample = df.where(F.col(id_col) % sample_mod == 0).select(
        F.col(id_col).alias("__id"),
        as_double(F.col(vec_col)).alias("__v"),
    )
    sample = sample.localCheckpoint(eager=False)
    # init: the k smallest-md5 sample rows, sliced into every subspace —
    # identical to running kmeans_fit's init per subspace, in 1 job
    init_rows = (
        sample.withColumn("__h", F.md5(F.col("__id").cast("string")))
        .orderBy("__h", "__id")
        .limit(k_codes)
        .collect()
    )
    books: List[List[List[float]]] = [
        [list(r["__v"][j * sub:(j + 1) * sub]) for r in init_rows]
        for j in range(m)
    ]
    vd = sql_as_double("__v")
    for _ in range(n_iter):
        codes = [
            F.expr(
                _argmin_code_sql(
                    f"slice({vd}, {j * sub + 1}, {sub})", books[j], round_to
                )
            ).alias(f"__c{j}")
            for j in range(m)
        ]
        assigned = sample.select("__v", *codes)
        cells = F.array(*[F.col(f"__c{j}") for j in range(m)])
        exploded = assigned.select(
            cells.alias("__cells"), F.posexplode("__v").alias("pos", "val")
        ).select(
            (F.col("pos") / sub).cast("int").alias("subsp"),
            (F.col("pos") % sub).alias("inner"),
            F.element_at(
                "__cells", (F.col("pos") / sub).cast("int") + 1
            ).alias("cell"),
            F.round(F.col("val") * F.lit(scale)).cast("long").alias("mu"),
        )
        stats = (
            exploded.groupBy("subsp", "cell", "inner")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("mu").alias("s"))
            .collect()
        )
        new = [[list(c) for c in b] for b in books]
        for r in stats:
            new[r["subsp"]][r["cell"]][r["inner"]] = (
                r["s"] / scale / r["n"]
            )
        books = new
    return books


def pq_encode(
    df: DataFrame,
    codebooks: List[List[List[float]]],
    vec_col: str = "embedding",
    code_prefix: str = "code_",
    round_to: int = 6,
) -> DataFrame:
    """Quantize each vector to its per-subspace nearest-centroid codes →
    adds ``code_0 .. code_{m-1}`` int columns. Pure codegen'd narrow
    projection (codebooks are literals): the corpus is never shuffled
    and nothing is collected. At scale, write the encoded table once and
    drop the raw vectors from the search path — the codes are ~m bytes
    per row."""
    sub = len(codebooks[0][0])
    vd = sql_as_double(vec_col)
    cols = [
        F.expr(
            _argmin_code_sql(
                f"slice({vd}, {j * sub + 1}, {sub})", cb, round_to
            )
        ).alias(f"{code_prefix}{j}")
        for j, cb in enumerate(codebooks)
    ]
    return df.select("*", *cols)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: List[List[List[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Asymmetric-distance PQ top-k → (query_id, neighbor_id, adc,
    rank): per query, rank the *encoded* corpus by the sum of
    per-subspace lookup distances (ADC — the query stays exact, the
    corpus is quantized).

    Plan shape: encode is a narrow projection; each (small) query row
    precomputes its m×k distance table as array literals in codegen;
    the scored join is a broadcast of the query tables against the
    encoded corpus with the distance a pure ``element_at`` chain — the
    corpus is scanned once and shuffled never; the only shuffle is the
    final per-query top-k window. Every lookup term is rounded to
    ``round_to`` and summed in fixed subspace order, so an independent
    SQL replay reproduces the ranking bit-for-bit.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    enc = pq_encode(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
        ),
        codebooks,
        vec_col="cv",
        round_to=round_to,
    ).drop("cv")
    qd = sql_as_double("qv")
    tables = [
        F.expr(
            "array(" + ", ".join(
                "round(aggregate(zip_with(slice(%s, %d, %d), %s, "
                "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x), %d)"
                % (qd, j * sub + 1, sub, sql_double_array(c), round_to)
                for c in cb
            ) + ")"
        ).alias(f"dt_{j}")
        for j, cb in enumerate(codebooks)
    ]
    qt = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    ).select("query_id", *tables)
    adc = F.expr(
        "round(" + " + ".join(
            f"element_at(dt_{j}, code_{j} + 1)" for j in range(m)
        ) + f", {round_to})"
    )
    scored = (
        enc.join(F.broadcast(qt), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def knn_classify(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    round_to: Optional[int] = 6,
) -> DataFrame:
    """k-nearest-neighbor majority-vote label prediction →
    (query_id, pred_label, votes): each query's label is the most
    frequent label among its exact top-k cosine neighbors (ties break
    to the smallest label — deterministic, like every ranking here).

    Built on :func:`cosine_topk`, so the plan inherits its shape:
    queries broadcast against the corpus, one per-query window for the
    top-k, then a (query, label) count and an argmax window over the
    k-row-per-query result — the post-ANN stages touch only k rows per
    query. Swap in :func:`lsh_topk`/:func:`pq_topk` candidates for the
    approximate tiers at scale; the vote logic is identical.
    """
    nb = cosine_topk(
        corpus, queries, k=k, vec_col=vec_col, id_col=id_col,
        round_to=round_to,
    )
    labeled = nb.join(
        F.broadcast(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(label_col).alias("_nl"),
            )
        ),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "_nl").agg(
        F.count(F.lit(1)).alias("votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("_nl")
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "query_id",
            F.col("_nl").alias("pred_label"),
            "votes",
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_centroids: List[List[float]],
    codebooks: List[List[List[float]]],
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """IVF+PQ composite top-k (the FAISS-standard production shape):
    the coarse quantizer prunes candidates to the ``n_probe`` nearest
    Voronoi cells per query, and PQ/ADC ranks only those candidates →
    (query_id, neighbor_id, adc, rank).

    Plan shape at 100 TB — strictly better than either tier alone: the
    corpus is annotated with (cell, codes) in one codegen projection
    (persist it once as the "index"); candidate generation is a plain
    HASH JOIN on the cell key against the broadcast exploded query
    probes — no broadcast nested loop, no corpus shuffle — and the ADC
    distance touches only the joined candidates. Everything inherits
    the determinism contracts of :func:`kmeans_assign` (rounded
    distances, lowest-cell ties) and :func:`pq_topk` (rounded fixed-
    order lookup sums, id tiebreaks), so the full composite replays in
    SQL.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0])
    enc = kmeans_assign(
        pq_encode(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("cv"),
            ),
            codebooks,
            vec_col="cv",
            round_to=round_to,
        ),
        coarse_centroids,
        vec_col="cv",
        cell_col="cell",
        round_to=round_to,
    ).drop("cv")
    qd = sql_as_double("qv")
    tables = [
        F.expr(
            "array(" + ", ".join(
                "round(aggregate(zip_with(slice(%s, %d, %d), %s, "
                "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x), %d)"
                % (qd, j * sub + 1, sub, sql_double_array(c), round_to)
                for c in cb
            ) + ")"
        ).alias(f"dt_{j}")
        for j, cb in enumerate(codebooks)
    ]
    cell_structs = "array(" + ", ".join(
        "struct(round(aggregate(zip_with(%s, %s, "
        "(a, b) -> (a - b) * (a - b)), 0.0D, (acc, x) -> acc + x), %d) "
        "AS d, %d AS cell)" % (qd, sql_double_array(c), round_to, i)
        for i, c in enumerate(coarse_centroids)
    ) + ")"
    probes = F.expr(
        f"slice(sort_array({cell_structs}), 1, {n_probe})"
    )
    qt = (
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
        .select("query_id", probes.alias("_probes"), *tables)
        .select(
            "query_id",
            F.explode("_probes").alias("_p"),
            *[F.col(f"dt_{j}") for j in range(m)],
        )
        .select(
            "query_id",
            F.col("_p.cell").alias("cell"),
            *[F.col(f"dt_{j}") for j in range(m)],
        )
    )
    adc = F.expr(
        "round(" + " + ".join(
            f"element_at(dt_{j}, code_{j} + 1)" for j in range(m)
        ) + f", {round_to})"
    )
    scored = (
        enc.join(F.broadcast(qt), "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", adc.alias("adc"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def topk_recall(
    exact: DataFrame,
    ann: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
) -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the index-quality eval every ANN deployment runs before trusting
    the fast path. Per query: how many of the true top-k neighbors did
    the index return?

    One equi-join on (query, neighbor) + one keyed aggregate — both
    frames are already k·n_queries-sized, so the eval costs less than
    either search. Emits exact integer hit counts and one rounded
    division per query; macro-average downstream however you like.
    """
    # distinct() bounds recall at 1 for ANY input: duplicate
    # (query, neighbor) rows in `ann` would otherwise fan out the join
    # and inflate both n_exact and n_hit (latent today — callers emit
    # row_number-deduped top-k — but cheap to make unconditional)
    probe = ann.select(
        F.col(query_col), F.col(neighbor_col)
    ).distinct().withColumn("_hit", F.lit(1))
    return (
        exact.select(query_col, neighbor_col).distinct()
        .join(probe, [query_col, neighbor_col], "left")
        .groupBy(query_col)
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce("_hit", F.lit(0))).cast("long").alias("n_hit"),
        )
        .select(
            query_col,
            "n_exact",
            "n_hit",
            F.round(
                F.col("n_hit").cast("double") / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def kcenter_sample(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Greedy k-center (farthest-point) diversity sample (Gonzalez
    1985, public method) — the coreset / diverse-subset selector a
    curation pipeline uses when it wants k embeddings that COVER the
    space rather than k random ones (2-approximation to the optimal
    k-center cover).

    Determinism follows the kmeans_fit contract exactly: the seed is
    the row with the smallest (md5(id), id); each round scores every
    point by its minimum squared-L2 distance to the selected set,
    ROUNDED to ``round_to`` dp (the established cross-engine float
    comparison convention), and picks the maximum with id tiebreak.
    Selected vectors re-enter the plan as double literals (exact
    float64 round trip), so each round is ONE scan with a
    whole-stage-codegen least()-of-k expression — no joins, no
    shuffles; k−1 rounds total, each a driver-small argmax collect.
    The oracle replays the rounds as chained CTEs.

    Output: one row per selected point —
    ``sel_rank vec_id dmin_at_pick`` (NULL for the seed).
    """
    from ..functions.vector import as_double

    v = emb.select(
        F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("x")
    ).localCheckpoint(eager=True)
    seed = (
        v.select(
            "id", "x", F.md5(F.col("id").cast("string")).alias("h")
        )
        .orderBy("h", "id")
        .limit(1)
        .collect()[0]
    )
    selected = [(int(seed["id"]), list(seed["x"]), None)]

    def sq_l2(lit_vec):
        arr = F.array(*[F.lit(float(c)) for c in lit_vec])
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.col("x"), arr, lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            ),
            round_to,
        )

    for _ in range(int(k) - 1):
        dmin = F.least(*[sq_l2(vec) for _, vec, _ in selected]) if len(
            selected
        ) > 1 else sq_l2(selected[0][1])
        chosen_ids = [i for i, _, _ in selected]
        row = (
            v.where(~F.col("id").isin(chosen_ids))
            .select("id", "x", dmin.alias("dmin"))
            .orderBy(F.col("dmin").desc(), F.col("id").asc())
            .limit(1)
            .collect()[0]
        )
        selected.append((int(row["id"]), list(row["x"]), float(row["dmin"])))

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("sel_rank", T.IntegerType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("dmin_at_pick", T.DoubleType()),
        ]
    )
    rows = [
        (rk, i, d) for rk, (i, _, d) in enumerate(selected)
    ]
    return emb.sparkSession.createDataFrame(rows, schema)


def mmr_rerank(
    emb: DataFrame,
    k: int,
    lam: float = 0.7,
    one_minus_lam: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998, public method) — the diversity-aware retrieval selector a
    RAG pipeline runs over a candidate list: pick k results that are
    RELEVANT to the query but not redundant with each other,
    score(x) = λ·cos(x, query) − (1−λ)·max_{s∈S} cos(x, s).

    Determinism follows the kcenter_sample contract: the query is the
    row with the smallest (md5(id), id); every cosine is rounded to
    ``round_to`` dp before comparison; argmax breaks ties by id. The
    relevance column is computed ONCE against the query literal and
    checkpointed; each round is one codegen scan with a
    greatest()-of-|S| expression (no joins, no shuffles), k−1
    driver-small argmax collects. λ and (1−λ) ride as explicit
    constants so both engines evaluate the same literals (a Python
    ``1−λ`` would drift the last ulp). The oracle replays the rounds
    as chained CTEs.

    Scale: at 100 TB the production form pools candidates first (ANN
    top-N per query) and re-ranks the pool; this operator IS that
    re-rank — the corpus-wide scan here doubles as the exhaustive
    truth gate.

    Output: one row per selected point —
    ``sel_rank vec_id rel score_at_pick`` (NULL for the first pick,
    which is chosen by pure relevance).
    """
    import math

    from ..functions.vector import sql_as_double, sql_double_array, sql_dot

    v = emb.select(
        F.col(id_col).alias("id"),
        F.expr(sql_as_double(vec_col)).alias("x"),
    )
    qrow = (
        v.select("id", "x", F.md5(F.col("id").cast("string")).alias("h"))
        .orderBy("h", "id")
        .limit(1)
        .collect()[0]
    )
    qid = int(qrow["id"])

    # SQL-text expression builders (see functions/vector.py): one
    # parsed expression per round instead of thousands of py4j Column
    # nodes — same values to the last ulp. The literal-side norm is
    # the identical left-to-right accumulation in Python floats.
    def _norm(vec):
        acc = 0.0
        for c in vec:
            acc += float(c) * float(c)
        return math.sqrt(acc)

    _NX = "sqrt(aggregate(x, 0.0D, (acc, v) -> acc + v * v))"

    def cos_text(lit_vec):
        arr = sql_double_array(float(c) for c in lit_vec)
        return (
            f"round({sql_dot('x', arr)} / ({_NX} * {_norm(lit_vec)!r}D),"
            f" {round_to})"
        )

    cands = (
        v.where(F.col("id") != qid)
        .select("id", "x", F.expr(cos_text(list(qrow["x"]))).alias("rel"))
        # the k−1 argmax rounds each scan this frame: a handful of
        # fat tasks beats 32 micro-tasks of driver scheduling (the
        # frame is the re-rank pool, driver-small by construction)
        .coalesce(8)
        .localCheckpoint(eager=True)
    )
    first = cands.orderBy(F.desc("rel"), F.asc("id")).limit(1).collect()[0]
    selected = [(int(first["id"]), list(first["x"]), float(first["rel"]), None)]
    for _ in range(int(k) - 1):
        sims = [cos_text(vec) for _, vec, _, _ in selected]
        simmax = (
            "greatest(" + ", ".join(sims) + ")" if len(sims) > 1 else sims[0]
        )
        score = (
            f"round({lam!r}D * rel - {one_minus_lam!r}D * {simmax},"
            f" {round_to})"
        )
        chosen = [cid for cid, _, _, _ in selected]
        row = (
            cands.where(~F.col("id").isin(chosen))
            .select("id", "x", "rel", F.expr(score).alias("score"))
            .orderBy(F.desc("score"), F.asc("id"))
            .limit(1)
            .collect()[0]
        )
        selected.append(
            (int(row["id"]), list(row["x"]), float(row["rel"]),
             float(row["score"]))
        )

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("sel_rank", T.IntegerType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("rel", T.DoubleType()),
            T.StructField("score_at_pick", T.DoubleType()),
        ]
    )
    rows = [(rk, i, r, s) for rk, (i, _, r, s) in enumerate(selected)]
    return emb.sparkSession.createDataFrame(rows, schema)
