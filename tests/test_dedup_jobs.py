"""Spark jobs of the dedup chain: shingles, the exact prefix filter,
candidate verification and min-label clustering, called as the
``corpus_dedup`` bench calls them.

Each call's job count is pinned: the prefix filter ranks every
document's shingles once (one sorted list per document, sliced for both
prefixes), the verify step reads its candidate count from the candidate
checkpoint's own job, and each label-propagation round reads its change
count from the round's own checkpoint job. In the suite's Spark session
(4 cores, 8 shuffle partitions) the calls start 4, 12 and 13 jobs on
the corpus below; before, 6, 14 and 18. On the bench's 3,000-document
corpus (2 cores, 2 partitions) they start 4, 10 and 13, from 5, 12 and
18. The shingle step's parallelism rule is tested here too.
"""

import numpy as np
import pytest

from helpers import spark_jobs
from panelsplit_spark.operators import dedup

THRESHOLD_BP = 5000


def _corpus(rng, n_docs):
    """Random 40-80 word documents; a third get one to three copies
    with 2-20% of their words replaced, so copies land on both sides
    of a Jaccard threshold near 0.5."""
    words = np.array([f"w{i}" for i in range(5000)])
    texts = []
    while len(texts) < n_docs:
        base = words[rng.integers(0, len(words), rng.integers(40, 81))]
        texts.append(base)
        if rng.random() < 0.3:
            for _ in range(int(rng.integers(1, 4))):
                copy = base.copy()
                hit = rng.random(len(copy)) < rng.uniform(0.02, 0.2)
                copy[hit] = words[rng.integers(0, len(words), hit.sum())]
                texts.append(copy)
    ids = rng.permutation(len(texts)) + 1
    return [(int(i), " ".join(t)) for i, t in zip(ids, texts)]


@pytest.fixture(scope="module")
def docs(spark):
    rows = _corpus(np.random.default_rng(9), 300)
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_chain_job_budget(spark, docs):
    """Jobs per call of the bench's four calls, each checkpointed, on a
    seeded corpus with near-dup families."""
    jobs = {}
    with spark_jobs(spark) as jobs["doc_shingles"]:
        sh = dedup.doc_shingles(docs).localCheckpoint()
    with spark_jobs(spark) as jobs["prefix_filter_candidates"]:
        cands = dedup.prefix_filter_candidates(
            docs, threshold_bp=THRESHOLD_BP, shingles=sh
        ).localCheckpoint()
    with spark_jobs(spark) as jobs["ngram_jaccard_pairs"]:
        pairs = dedup.ngram_jaccard_pairs(
            docs, threshold=THRESHOLD_BP / 10000, candidates=cands,
            shingles=sh,
        ).localCheckpoint()
    with spark_jobs(spark) as jobs["connected_components"]:
        clusters = dedup.connected_components(pairs).localCheckpoint()
    assert pairs.count() > 0 and clusters.count() > 0
    n = {k: len(v) for k, v in jobs.items()}
    assert n["prefix_filter_candidates"] <= 4, n
    assert n["ngram_jaccard_pairs"] <= 12, n
    assert n["connected_components"] <= 13, n


@pytest.mark.parametrize("side", ["explode", "array"])
def test_verify_branch_follows_observed_candidate_count(
    spark, docs, monkeypatch, side
):
    """The verify branch is chosen from the count observed on the
    candidate checkpoint's job: at a crossover equal to the candidate
    count the packed-array branch runs, one above it the explode join;
    both give the all-pairs result."""
    sh = dedup.doc_shingles(docs).localCheckpoint()
    cands = dedup.prefix_filter_candidates(
        docs, threshold_bp=THRESHOLD_BP, shingles=sh
    ).localCheckpoint()
    n = cands.count()
    assert n > 0
    monkeypatch.setattr(
        dedup, "_ARRAY_VERIFY_MIN_CANDS", n if side == "array" else n + 1
    )
    inter, _ = dedup._shingle_pair_core(
        docs, "text", "doc_id", 3, cands, None, shingles=sh
    )
    assert ("__na" in inter.columns) == (side == "array")
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, candidates=cands, shingles=sh
        ).collect()
    }
    # the prefix filter's recall is exact: the all-pairs path agrees
    want = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, shingles=sh
        ).collect()
    }
    assert got == want and got


def test_ensure_parallelism_by_source(spark, tmp_path):
    """A frame read from fewer files than the target is repartitioned;
    a frame with no files (createDataFrame, range) is returned as is,
    and so is a streaming frame, whose files cannot be listed."""
    path = str(tmp_path / "one.parquet")
    spark.range(10).coalesce(1).write.parquet(path)
    one = spark.read.parquet(path)
    assert one.rdd.getNumPartitions() == 1
    assert dedup._ensure_parallelism(one, 3).rdd.getNumPartitions() == 3
    for df in (spark.range(10), spark.createDataFrame([(1,)], "a long")):
        assert dedup._ensure_parallelism(df, 3) is df
    stream = spark.readStream.schema("id long").parquet(path)
    assert dedup._ensure_parallelism(stream, 3) is stream
