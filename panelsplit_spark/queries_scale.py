"""Query registry, part 7: round-3 scale additions — product-quantized
ANN, exact duplicated-span detection, fixed-iteration graph ranking, and
kNN label prediction.

Same cross-engine determinism rules as queries.py: every float either an
exact integer or a single rounded expression, identical aliases both
sides, ranking keys always (rounded value, id) so row membership under
LIMIT/row_number is engine-independent.
"""

from __future__ import annotations

from typing import Callable, Dict, List

from pyspark.sql import DataFrame, SparkSession, functions as F

from .sources.tables import load_table

# PQ configuration shared by engine and oracle (dim=64 embeddings).
PQ_M = 4            # subspaces
PQ_SUB = 16         # dims per subspace (64 / 4)
PQ_K = 8            # codes per subspace
PQ_ITER = 2         # Lloyd rounds per codebook
PQ_SAMPLE_MOD = 5   # codebooks train on ids ≡ 0 (mod 5)


# ======================================================================
# product-quantized ANN (sim_pq_topk)
# ======================================================================


def q_sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC approximate top-k over the embeddings corpus: per-subspace
    codebooks trained by distributed Lloyd on the deterministic
    ``id % 5 == 0`` sample, corpus quantized to 4 code ids by a codegen
    argmin projection, queries ranked by summed lookup distances.

    Oracle-gated by full replay: the SQL twin re-runs all four
    per-subspace Lloyd fits (md5-sample init, 6dp-quantized assignment,
    exact integer-micro-unit means — the same contract proven by
    ``sim_kmeans_ivf_topk``), re-encodes the corpus, and re-ranks, so a
    regression anywhere in fit/encode/search breaks the hash."""
    from .operators.similarity import pq_fit, pq_topk
    from .queries_data import TOPK_K, TOPK_NQ

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_fit(
        emb,
        m=PQ_M,
        k_codes=PQ_K,
        n_iter=PQ_ITER,
        sample_mod=PQ_SAMPLE_MOD,
        dim=PQ_M * PQ_SUB,
    )
    queries = emb.where(F.col("vec_id") < TOPK_NQ)
    return pq_topk(emb, queries, books, k=TOPK_K).select(
        "query_id",
        "neighbor_id",
        "adc",
        F.col("rank").cast("long").alias("rank"),
    )


def _lloyd_ctes(prefix: str, src: str, k: int, n_iter: int) -> str:
    """Chained-CTE SQL for ``n_iter`` Lloyd rounds over source CTE
    ``src`` (columns id, x) — the replay contract of
    ``operators/similarity.kmeans_fit`` (see _sql_kmeans_ivf in
    queries_nlp.py, from which this is the prefix-parameterized form):
    md5-ordered init, 6dp-rounded assignment with lowest-cell ties,
    exact integer-micro-unit means, empty cells keep their centroid."""
    parts = [
        """
%(P)scent0 AS (
  SELECT row_number() OVER (ORDER BY h, id) - 1 AS cell, x AS c FROM (
    SELECT id, x, md5(CAST(id AS VARCHAR)) AS h FROM %(S)s
    ORDER BY h, id LIMIT %(k)d
  )
)""" % {"P": prefix, "S": src, "k": k}
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            """,
%(P)sa%(i)d AS (
  SELECT id, x, cell FROM (
    SELECT s.id, s.x, p.cell,
           row_number() OVER (
             PARTITION BY s.id
             ORDER BY round(list_sum(list_transform(
                        range(1, len(s.x) + 1),
                        j -> (s.x[j] - p.c[j]) * (s.x[j] - p.c[j]))), 6),
                      p.cell
           ) AS rn
    FROM %(S)s s, %(P)scent%(p)d p
  ) WHERE rn = 1
),
%(P)ss%(i)d AS (
  SELECT cell, j, count(*) AS n, CAST(sum(q) AS BIGINT) AS s
  FROM (
    SELECT cell,
           UNNEST(range(1, len(x) + 1)) AS j,
           UNNEST(list_transform(
             x, e -> CAST(round(e * 1000000.0) AS BIGINT))) AS q
    FROM %(P)sa%(i)d
  )
  GROUP BY cell, j
),
%(P)scent%(i)d AS (
  SELECT px.cell,
         list(CASE WHEN st.n IS NULL THEN px.cj
                   ELSE st.s / 1000000.0 / st.n END ORDER BY px.j) AS c
  FROM (
    SELECT cell,
           UNNEST(range(1, len(c) + 1)) AS j,
           UNNEST(c) AS cj
    FROM %(P)scent%(p)d
  ) px
  LEFT JOIN %(P)ss%(i)d st ON st.cell = px.cell AND st.j = px.j
  GROUP BY px.cell
)""" % {"P": prefix, "S": src, "i": i, "p": i - 1}
        )
    return "".join(parts)


def _pq_fit_ctes() -> str:
    """Sample CTE + per-subspace slice sources + Lloyd fits (pj0..pj3)."""
    m, sub, kc, it = PQ_M, PQ_SUB, PQ_K, PQ_ITER
    parts = [
        "sv AS (SELECT id, x FROM v WHERE id %% %d = 0)" % PQ_SAMPLE_MOD
    ]
    for j in range(m):
        a, b = j * sub + 1, (j + 1) * sub
        parts.append(
            ",\npj%dv AS (SELECT id, x[%d:%d] AS x FROM sv)" % (j, a, b)
        )
        parts.append(",")
        parts.append(_lloyd_ctes("pj%d" % j, "pj%dv" % j, kc, it).lstrip())
    return "".join(parts)


def _pq_enc_ctes() -> str:
    """Corpus encode CTEs e0..e3 + the joined enc CTE."""
    m, sub, it = PQ_M, PQ_SUB, PQ_ITER
    parts = []
    for j in range(m):
        a = j * sub + 1
        parts.append(
            """,
e%(j)d AS (
  SELECT id, cell AS code_%(j)d FROM (
    SELECT v.id, p.cell,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY round(list_sum(list_transform(
                        range(1, %(sub)d + 1),
                        jj -> (v.x[%(off)d + jj] - p.c[jj])
                            * (v.x[%(off)d + jj] - p.c[jj]))), 6),
                      p.cell
           ) AS rn
    FROM v, pj%(j)dcent%(it)d p
  ) WHERE rn = 1
)""" % {"j": j, "sub": sub, "off": a - 1, "it": it}
        )
    parts.append(
        """,
enc AS (
  SELECT e0.id, e0.code_0, e1.code_1, e2.code_2, e3.code_3
  FROM e0 JOIN e1 USING (id) JOIN e2 USING (id) JOIN e3 USING (id)
)"""
    )
    return "".join(parts)


def _pq_qt_ctes(nq: int) -> str:
    """Per-query per-subspace distance-table CTEs qt0..qt3."""
    m, sub, it = PQ_M, PQ_SUB, PQ_ITER
    parts = []
    for j in range(m):
        a = j * sub + 1
        parts.append(
            """,
qt%(j)d AS (
  SELECT v.id AS query_id,
         list(round(list_sum(list_transform(
             range(1, %(sub)d + 1),
             jj -> (v.x[%(off)d + jj] - p.c[jj])
                 * (v.x[%(off)d + jj] - p.c[jj]))), 6)
              ORDER BY p.cell) AS dt
  FROM v, pj%(j)dcent%(it)d p
  WHERE v.id < %(nq)d
  GROUP BY v.id
)""" % {"j": j, "sub": sub, "off": a - 1, "it": it, "nq": nq}
        )
    return "".join(parts)


def _sql_pq_topk() -> str:
    from .queries_data import TOPK_K, TOPK_NQ

    return (
        """
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
"""
        + _pq_fit_ctes()
        + _pq_enc_ctes()
        + _pq_qt_ctes(TOPK_NQ)
        + """,
s AS (
  SELECT q0.query_id, e.id AS neighbor_id,
         round(q0.dt[e.code_0 + 1] + q1.dt[e.code_1 + 1]
             + q2.dt[e.code_2 + 1] + q3.dt[e.code_3 + 1], 6) AS adc
  FROM enc e, qt0 q0, qt1 q1, qt2 q2, qt3 q3
  WHERE q1.query_id = q0.query_id AND q2.query_id = q0.query_id
    AND q3.query_id = q0.query_id AND q0.query_id <> e.id
)
SELECT query_id, neighbor_id, adc, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc, neighbor_id
  ) AS rank FROM s
) WHERE rank <= %d
""" % TOPK_K
    )


# ======================================================================
# IVF+PQ composite ANN (sim_ivfpq_topk)
# ======================================================================

IVFPQ_CELLS = 8
IVFPQ_PROBE = 2


def q_sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composite: coarse k-means cells prune candidates through a
    HASH join on the cell key (no broadcast nested loop), PQ/ADC ranks
    only the probed candidates — the FAISS production shape. Both
    quantizers train on the deterministic id%5 sample; the oracle
    replays coarse Lloyd, per-subspace Lloyd, encode, probe, and rank
    end to end."""
    from .operators.similarity import ivfpq_topk, kmeans_fit, pq_fit
    from .queries_data import TOPK_K, TOPK_NQ

    emb = load_table(spark, sf_dir, "embeddings")
    sample = emb.where(F.col("vec_id") % PQ_SAMPLE_MOD == 0)
    coarse = kmeans_fit(sample, k=IVFPQ_CELLS, n_iter=PQ_ITER)
    books = pq_fit(
        emb,
        m=PQ_M,
        k_codes=PQ_K,
        n_iter=PQ_ITER,
        sample_mod=PQ_SAMPLE_MOD,
        dim=PQ_M * PQ_SUB,
    )
    queries = emb.where(F.col("vec_id") < TOPK_NQ)
    return ivfpq_topk(
        emb, queries, coarse, books, k=TOPK_K, n_probe=IVFPQ_PROBE
    ).select(
        "query_id",
        "neighbor_id",
        "adc",
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_ivfpq_topk() -> str:
    from .queries_data import TOPK_K, TOPK_NQ

    it = PQ_ITER
    head = """
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
"""
    coarse = "," + _lloyd_ctes("cq", "sv", IVFPQ_CELLS, it)
    assign_probe = """,
ca AS (
  SELECT id, cell FROM (
    SELECT v.id, p.cell,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY round(list_sum(list_transform(
                        range(1, len(v.x) + 1),
                        j -> (v.x[j] - p.c[j]) * (v.x[j] - p.c[j]))), 6),
                      p.cell
           ) AS rn
    FROM v, cqcent%(it)d p
  ) WHERE rn = 1
),
encc AS (SELECT enc.*, ca.cell FROM enc JOIN ca USING (id)),
qp AS (
  SELECT query_id, cell FROM (
    SELECT v.id AS query_id, p.cell,
           row_number() OVER (
             PARTITION BY v.id
             ORDER BY round(list_sum(list_transform(
                        range(1, len(v.x) + 1),
                        j -> (v.x[j] - p.c[j]) * (v.x[j] - p.c[j]))), 6),
                      p.cell
           ) AS rn
    FROM v, cqcent%(it)d p WHERE v.id < %(nq)d
  ) WHERE rn <= %(probe)d
)""" % {"it": it, "nq": TOPK_NQ, "probe": IVFPQ_PROBE}
    tail = """,
s AS (
  SELECT q0.query_id, e.id AS neighbor_id,
         round(q0.dt[e.code_0 + 1] + q1.dt[e.code_1 + 1]
             + q2.dt[e.code_2 + 1] + q3.dt[e.code_3 + 1], 6) AS adc
  FROM qp
  JOIN encc e ON e.cell = qp.cell
  JOIN qt0 q0 ON q0.query_id = qp.query_id
  JOIN qt1 q1 ON q1.query_id = qp.query_id
  JOIN qt2 q2 ON q2.query_id = qp.query_id
  JOIN qt3 q3 ON q3.query_id = qp.query_id
  WHERE qp.query_id <> e.id
)
SELECT query_id, neighbor_id, adc, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc, neighbor_id
  ) AS rank FROM s
) WHERE rank <= %d
""" % TOPK_K
    return (
        head
        + _pq_fit_ctes()
        + coarse
        + _pq_enc_ctes()
        + assign_probe
        + _pq_qt_ctes(TOPK_NQ)
        + tail
    )


# ======================================================================
# exact duplicated-span detection (dedup_spans)
# ======================================================================

SPAN_W = 6          # tokens per window
SPAN_MIN_COUNT = 2  # corpus occurrences for a window to count as dup


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document coverage by corpus-duplicated token spans — the
    ExactSubstr-dedup signal (maximal merged spans whose every
    ``SPAN_W``-token window repeats in the corpus). One shuffle for the
    global window counts, one key-join back, islands merge on the
    surviving pairs only."""
    from .operators.dedup import span_dedup_stats

    docs = load_table(spark, sf_dir, "documents")
    return span_dedup_stats(
        docs, w=SPAN_W, min_count=SPAN_MIN_COUNT
    ).select(
        "doc_id", "n_tokens", "n_dup_spans", "dup_tokens", "dup_frac"
    )


def _span_ctes() -> str:
    """Shared CTE prefix (documents → maximal duplicated spans) for the
    dedup_spans and pipe_span_trim oracles — ends at CTE ``spans``."""
    w, mc = SPAN_W, SPAN_MIN_COUNT
    return f"""
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
dw AS (
  SELECT doc_id, s AS start,
         array_to_string(toks[s + 1 : s + {w}], ' ') AS shingle
  FROM (SELECT doc_id, toks, UNNEST(range(0, len(toks) - {w} + 1)) AS s
        FROM d WHERE len(toks) >= {w})
),
dup AS (
  SELECT shingle FROM dw GROUP BY shingle HAVING count(*) >= {mc}
),
hits AS (
  SELECT doc_id, start, start + {w} AS e FROM dw
  WHERE shingle IN (SELECT shingle FROM dup)
),
isl AS (
  SELECT doc_id, start, e,
         CASE WHEN max(e) OVER prev IS NULL
                OR start > max(e) OVER prev THEN 1 ELSE 0 END AS ni
  FROM hits
  WINDOW prev AS (PARTITION BY doc_id ORDER BY start
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
isl2 AS (
  SELECT *, sum(ni) OVER (PARTITION BY doc_id ORDER BY start
                          ROWS UNBOUNDED PRECEDING) AS island
  FROM isl
),
spans AS (
  SELECT doc_id, island, min(start) AS s0, max(e) AS e1, count(*) AS nw
  FROM isl2 GROUP BY doc_id, island
)"""


def _sql_dedup_spans() -> str:
    return _span_ctes() + """,
agg AS (
  SELECT doc_id, count(*) AS n_dup_spans, sum(e1 - s0) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       round(CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / len(d.toks), 6)
         AS dup_frac
FROM d LEFT JOIN agg a USING (doc_id)
"""


def q_pipe_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr cleaning applied: every corpus-duplicated span is cut
    from every document and the cleaned text reassembled (hash-compared
    via md5 so the gate payload stays small). Completes the
    detect→measure→clean span-dedup pipeline."""
    from .operators.dedup import remove_duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    out = remove_duplicated_spans(
        docs, w=SPAN_W, min_count=SPAN_MIN_COUNT
    )
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "kept_tokens",
        "removed_tokens",
    )


def _sql_span_trim() -> str:
    return _span_ctes() + """,
dup_pos AS (
  SELECT doc_id, UNNEST(range(s0, e1)) AS pos FROM spans
),
positions AS (
  SELECT doc_id, i AS pos, toks[i + 1] AS tok
  FROM (SELECT doc_id, toks, UNNEST(range(0, len(toks))) AS i FROM d)
),
kept AS (
  SELECT p.doc_id, p.pos, p.tok FROM positions p
  LEFT JOIN dup_pos dp ON dp.doc_id = p.doc_id AND dp.pos = p.pos
  WHERE dp.pos IS NULL
),
rebuilt AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
         count(*) AS kept_tokens
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       md5(coalesce(r.clean_text, '')) AS clean_md5,
       CAST(coalesce(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       CAST(len(d.toks) - coalesce(r.kept_tokens, 0) AS BIGINT)
         AS removed_tokens
FROM d LEFT JOIN rebuilt r USING (doc_id)
"""


# ======================================================================
# fixed-iteration PageRank over the supplier↔customer graph
# ======================================================================

PR_ITER = 3
PR_DAMPING = 0.85


def q_rel_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 unrolled rounds) on the undirected bipartite
    supplier↔customer graph induced by lineitem⋈orders. The iterative
    join+aggregate shape every Pregel-style computation lowers to; the
    oracle replays all rounds as chained CTEs — integer-quantized
    contributions make the per-round sums order-independent, so the
    replay is exact (see operators/graph.pagerank)."""
    from .operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    # distinct on a packed LONG key (suppkey→2k+1, custkey→2k), not on
    # concatenated strings — the dedup shuffle moves 16 bytes/row
    # instead of ~20-char strings, and the packing is bijective so the
    # graph is identical; decode to the oracle's string ids only in the
    # final node-sized projection. The pairs frame is persisted across
    # the nodes/edges fan-out (pagerank derives BOTH from it).
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2 + 1).alias("a"),
            (F.col("o_custkey") * 2).alias("b"),
        )
        .distinct()
        .persist()
    )
    edges = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst")
    ).union(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # the packed-key domains are disjoint (odd=supplier, even=customer)
    # so the node set is two per-side distincts over the cached pairs —
    # no cross-side dedup pass over the doubled edge list
    nodes = pairs.select(F.col("a").alias("node")).distinct().union(
        pairs.select(F.col("b").alias("node")).distinct()
    )
    ranks = pagerank(
        edges, n_iter=PR_ITER, damping=PR_DAMPING, nodes=nodes
    )
    decoded = ranks.select(
        F.when(
            F.col("node") % 2 == 1,
            F.concat(F.lit("s"), F.shiftright("node", 1)),
        )
        .otherwise(F.concat(F.lit("c"), F.shiftright("node", 1)))
        .alias("node"),
        "rank",
    )
    # materialize the node-sized result (persist keeps AQE, unlike a
    # checkpoint), then RELEASE the edge-sized persisted intermediates —
    # a long-lived session running many queries must not leave an
    # edge-list squatting in storage memory
    out = decoded.persist()
    out.count()
    for h in getattr(ranks, "persisted_intermediates", ()):
        h.unpersist()
    pairs.unpersist()
    return out


def _sql_pagerank() -> str:
    d = PR_DAMPING
    parts = [
        """
WITH pairs AS (
  SELECT DISTINCT 's' || l_suppkey AS a, 'c' || o_custkey AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
e AS (
  SELECT a AS s, b AS t FROM pairs
  UNION ALL
  SELECT b AS s, a AS t FROM pairs
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT s AS node FROM e UNION ALL SELECT t AS node FROM e
  )
),
cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
deg AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
r0 AS (SELECT node, 1.0 / (SELECT n FROM cnt) AS rank FROM nodes)"""
    ]
    for i in range(1, PR_ITER + 1):
        parts.append(
            """,
c%(i)d AS (
  SELECT e.t AS node,
         CAST(round(r.rank / d.deg * 1000000000.0) AS BIGINT) AS c
  FROM e
  JOIN r%(p)d r ON e.s = r.node
  JOIN deg d ON d.s = e.s
),
s%(i)d AS (SELECT node, sum(c) AS s FROM c%(i)d GROUP BY node),
r%(i)d AS (
  SELECT n.node,
         round((1.0 - %(d)r) / (SELECT n FROM cnt)
             + %(d)r * (CAST(coalesce(s.s, 0) AS DOUBLE)
                        / 1000000000.0), 9) AS rank
  FROM nodes n LEFT JOIN s%(i)d s USING (node)
)""" % {"i": i, "p": i - 1, "d": d}
        )
    parts.append("\nSELECT node, rank FROM r%d" % PR_ITER)
    return "".join(parts)


# ======================================================================
# kNN majority-vote label prediction (sim_knn_classify)
# ======================================================================

KNN_NQ = 20  # classify the first 20 vectors against the rest


def q_sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-kNN majority-vote label prediction for the first KNN_NQ
    embedding rows (ties → smallest label), with the true label joined
    back — the evaluation harness shape for any ANN tier (swap the
    candidate generator, keep the vote)."""
    from .operators.similarity import knn_classify
    from .queries_data import TOPK_K

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < KNN_NQ)
    pred = knn_classify(emb, queries, k=TOPK_K)
    return pred.join(
        queries.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
        ),
        "query_id",
    ).select(
        "query_id",
        F.col("true_label").cast("long").alias("true_label"),
        F.col("pred_label").cast("long").alias("pred_label"),
        "votes",
        (F.col("pred_label") == F.col("true_label"))
        .cast("long")
        .alias("correct"),
    )


def _sql_knn_classify() -> str:
    from .queries_data import TOPK_K

    return f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
         label AS true_label
  FROM embeddings WHERE vec_id < {KNN_NQ}
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv, label
  FROM embeddings
),
nb AS (
  SELECT query_id, neighbor_id, label FROM (
    SELECT q.query_id, c.neighbor_id, c.label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                      c.neighbor_id
           ) AS rank
    FROM q, c WHERE q.query_id <> c.neighbor_id
  ) WHERE rank <= {TOPK_K}
),
votes AS (
  SELECT query_id, label, count(*) AS votes
  FROM nb GROUP BY query_id, label
),
pred AS (
  SELECT query_id, label AS pred_label, votes FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY votes DESC, label
    ) AS rn FROM votes
  ) WHERE rn = 1
)
SELECT p.query_id,
       CAST(q.true_label AS BIGINT) AS true_label,
       CAST(p.pred_label AS BIGINT) AS pred_label,
       p.votes,
       CAST(p.pred_label = q.true_label AS BIGINT) AS correct
FROM pred p JOIN q USING (query_id)
"""


# ======================================================================
# streaming heavy hitters (stream_heavy_hitters)
# ======================================================================

HH_TOPK = 3


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming heavy hitters: readStream over events →
    windowed per-user counts maintained as streaming state (exact
    integer counters, JVM-only) → availableNow drain → per-window top-k
    rank over the closed windows. The two-stage production shape
    (streaming aggregation + serving-side rank); hash-checked against
    the equivalent batch SQL on the same closed input."""
    from pyspark.sql import Window

    from .sources.tables import configure, normalize_event_ts
    from .streaming.rolling import (
        drain,
        file_stream,
        memory_sink,
        stream_window_counts,
    )

    configure(spark)

    # complete-mode counters: commutative monoid, ANY chop drains equal
    stream = file_stream(spark, sf_dir, "events", key_col="event_id")
    stream = normalize_event_ts(stream)
    counts = stream_window_counts(stream, window="1 hour")
    name = "stream_heavy_hitters_sink"
    out = drain(spark, name, lambda: memory_sink(counts, name, "complete"))
    w = Window.partitionBy("window_start").orderBy(
        F.desc("cnt"), F.asc("user_id")
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= HH_TOPK)
        .select(
            F.unix_micros("window_start").alias("win_start_us"),
            "user_id",
            "cnt",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _sql_heavy_hitters() -> str:
    return f"""
WITH c AS (
  SELECT epoch_us(date_trunc('hour', ts)) AS win_start_us, user_id,
         count(*) AS cnt
  FROM events GROUP BY 1, 2
)
SELECT win_start_us, user_id, cnt, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY win_start_us ORDER BY cnt DESC, user_id
  ) AS rank FROM c
) WHERE rank <= {HH_TOPK}
"""


# ======================================================================
# CDC upsert apply (rel_cdc_upsert)
# ======================================================================


def q_rel_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style change application on orders: a derived change set
    (price updates for keys ≡ 0 mod 10 at version 1, deletes for keys
    ≡ 0 mod 17 at version 2) applied latest-wins per key in ONE keyed
    shuffle (operators/cdc.apply_changes). Overlapping keys prove the
    version order: the delete outranks the update."""
    from .operators.cdc import apply_changes

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderstatus").cast("string").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "price_cents"
        ),
    )
    updates = (
        base.where(F.col("o_orderkey") % 10 == 0)
        .withColumn("price_cents", F.col("price_cents") + 500)
        .withColumn("_version", F.lit(1).cast("long"))
        .withColumn("_op", F.lit("U"))
    )
    deletes = (
        base.where(F.col("o_orderkey") % 17 == 0)
        .withColumn("_version", F.lit(2).cast("long"))
        .withColumn("_op", F.lit("D"))
    )
    changes = updates.unionByName(deletes)
    return apply_changes(base, changes, keys=["o_orderkey"])


_SQL_CDC_UPSERT = """
WITH base AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderstatus AS VARCHAR) AS status,
         CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
         0 AS version, NULL AS op
  FROM orders
),
upd AS (
  SELECT o_orderkey, o_custkey, status, price_cents + 500 AS price_cents,
         1 AS version, 'U' AS op
  FROM base WHERE o_orderkey % 10 = 0
),
del AS (
  SELECT o_orderkey, o_custkey, status, price_cents,
         2 AS version, 'D' AS op
  FROM base WHERE o_orderkey % 17 = 0
),
merged AS (
  SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL
  SELECT * FROM del
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey ORDER BY version DESC
  ) AS rn FROM merged
)
SELECT o_orderkey, o_custkey, status, price_cents
FROM ranked WHERE rn = 1 AND (op IS NULL OR op <> 'D')
"""


# ======================================================================
# ORC sink/source round-trip (src_orc_roundtrip)
# ======================================================================


def q_src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink/source gate for ORC (the second columnar format Spark ships
    natively): events projected with exact-integer value cents and
    micro timestamps → written ORC (zlib) → read back → per-entity
    aggregate. Must equal computing directly on the parquet (the
    oracle) — proving the ORC writer/reader round-trips longs,
    timestamps, and strings losslessly."""
    import os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    path = os.path.join(
        os.getcwd(), "spark-warehouse", "roundtrip", "orc_events"
    )
    ev.write.mode("overwrite").option("compression", "zlib").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sum_cents"),
        F.min("ts_us").alias("first_us"),
        F.max("ts_us").alias("last_us"),
        F.max("event_id").alias("max_id"),
    )


_SQL_ORC_ROUNDTRIP = """
SELECT event_type, count(*) AS n,
       CAST(sum(round(value * 100)) AS BIGINT) AS sum_cents,
       min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
       max(event_id) AS max_id
FROM events GROUP BY event_type
"""


def q_rel_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering layout audit — the lakehouse
    data-skipping technique (Delta OPTIMIZE ZORDER BY, Iceberg sort
    orders): interleave the bits of two filter columns into one sort
    key, range-bucket by it, and every bucket's min/max stays bounded
    in BOTH dimensions — so scans filtering on EITHER column prune
    files, where a single-column sort bounds only its own column.

    Plan: one narrow codegen projection (functions/exact.zorder_key —
    32 shift/mask terms, no shuffle, no Python) + one grouped aggregate
    over the bucket key. At rest you'd write
    ``repartitionByRange(z).sortWithinPartitions(z)`` and let parquet
    min/max stats do the pruning; this query emits the per-bucket
    extents that make the claim checkable — and the oracle replays the
    interleave bit-for-bit in SQL."""
    from .functions.exact import zorder_key

    o = load_table(spark, sf_dir, "orders")
    # 8-bit dims: both columns spread the full [0,256) range at every
    # SF (custkey/day residues are uniform), so the 64 z-buckets are
    # populated and the per-bucket extents actually witness the layout
    dims = o.select(
        (F.col("o_custkey") % 256).alias("ck"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")) % 256
        ).cast("long").alias("dd"),
    )
    z = zorder_key(F.col("ck"), F.col("dd"), bits=8)
    return (
        dims.select("ck", "dd", z.alias("z"))
        .groupBy(F.shiftrightunsigned(F.col("z"), 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ck").alias("ck_min"),
            F.max("ck").alias("ck_max"),
            F.min("dd").alias("dd_min"),
            F.max("dd").alias("dd_max"),
        )
        .orderBy("bucket")
    )


def _sql_zorder_layout() -> str:
    from .functions.exact import duckdb_zorder_key

    zexpr = duckdb_zorder_key("ck", "dd", bits=8)
    return f"""
WITH dims AS (
  SELECT o_custkey % 256 AS ck,
         CAST(date_diff('day', DATE '1992-01-01',
                        CAST(o_orderdate AS DATE)) % 256 AS BIGINT)
           AS dd
  FROM orders
),
zz AS (SELECT ck, dd, {zexpr} AS z FROM dims)
SELECT z >> 10 AS bucket, count(*) AS n,
       CAST(min(ck) AS BIGINT) AS ck_min,
       CAST(max(ck) AS BIGINT) AS ck_max,
       CAST(min(dd) AS BIGINT) AS dd_min,
       CAST(max(dd) AS BIGINT) AS dd_max
FROM zz GROUP BY 1 ORDER BY 1
"""


QUERIES7: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "rel_zorder_layout": q_rel_zorder_layout,
    "sim_pq_topk": q_sim_pq_topk,
    "dedup_spans": q_dedup_spans,
    "rel_pagerank": q_rel_pagerank,
    "sim_knn_classify": q_sim_knn_classify,
    "pipe_span_trim": q_pipe_span_trim,
    "stream_heavy_hitters": q_stream_heavy_hitters,
    "rel_cdc_upsert": q_rel_cdc_upsert,
    "src_orc_roundtrip": q_src_orc_roundtrip,
    "sim_ivfpq_topk": q_sim_ivfpq_topk,
}


def oracles7() -> Dict[str, str]:
    return {
        "rel_zorder_layout": _sql_zorder_layout(),
        "sim_pq_topk": _sql_pq_topk(),
        "dedup_spans": _sql_dedup_spans(),
        "rel_pagerank": _sql_pagerank(),
        "sim_knn_classify": _sql_knn_classify(),
        "pipe_span_trim": _sql_span_trim(),
        "stream_heavy_hitters": _sql_heavy_hitters(),
        "rel_cdc_upsert": _SQL_CDC_UPSERT,
        "src_orc_roundtrip": _SQL_ORC_ROUNDTRIP,
        "sim_ivfpq_topk": _sql_ivfpq_topk(),
    }
