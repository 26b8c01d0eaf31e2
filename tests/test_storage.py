"""Executor-storage hygiene: persisted/localCheckpoint blocks must be
deterministically releasable between queries.

Iterative operators persist intermediates (edge lists, streaming state,
banded signatures) and release the ``persisted_intermediates`` handles
themselves; the returned frame's own storage is released by the harness
terminal ``release_all_pinned`` (bench.py / tools/check_oracle.py call
it between queries). This test pins the contract on representative
known-persisting queries from three families — iterative graph
(pagerank), LSH banding (minhash), and driver-looped streaming state
(cdc apply): after consuming the result and releasing, NOTHING stays in
``getPersistentRDDs`` — the round-3/4 leak class (blocks lingering for
the driver-GC → ContextCleaner lag, accumulating into eviction churn
over a 188-query bench) stays dead.
"""

import pytest

from panelsplit_spark.utils.storage import pinned_rdd_ids, release_all_pinned
from tests.conftest import SF_DIR


@pytest.mark.parametrize(
    "qname", ["rel_pagerank", "dedup_minhash_lsh", "stream_cdc_apply"]
)
def test_release_all_pinned_clears_query_storage(spark, qname):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[qname]
    before = set(pinned_rdd_ids(spark))
    df = fn(spark, SF_DIR)
    assert df.count() >= 0
    del df
    release_all_pinned(spark)
    after = set(pinned_rdd_ids(spark))
    leaked = after - before
    assert not leaked, f"{qname} left pinned RDDs after release: {leaked}"


def test_release_all_pinned_counts_and_idempotent(spark):
    from pyspark.sql import functions as F

    df = spark.range(1000).select("id", (F.col("id") * 2).alias("x"))
    p = df.persist()
    p.count()
    ck = df.localCheckpoint(eager=True)
    ck.count()
    assert len(pinned_rdd_ids(spark)) >= 2
    n = release_all_pinned(spark)
    assert n >= 2
    assert pinned_rdd_ids(spark) == []
    # idempotent on an empty map
    assert release_all_pinned(spark) == 0


def test_release_all_pinned_scopes_moment_memo_to_one_invocation(spark):
    """The suffstats moment memo exists so ONE invocation (a grid sweep)
    aggregates its fold moments once — it must NOT serve a later query
    or a bench median re-run rows it never computed. release_all_pinned
    is the between-queries terminal, so after it runs the memo is empty
    and the next invocation recomputes from the inputs."""
    from pyspark.sql import functions as F

    from panelsplit_spark import PanelSplit
    from panelsplit_spark.estimators import LinearRegression
    from panelsplit_spark.operators import linear_fastpath as lf

    df = spark.range(200).select(
        "id",
        (F.col("id") % 10).cast("string").alias("period"),
        (F.col("id") % 7).cast("double").alias("x"),
        (F.col("id") % 3).cast("double").alias("y"),
    )
    cv = PanelSplit(df, "period", n_splits=3)
    calls = []
    real = lf._fold_moments

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    lf._fold_moments = counting
    try:
        assert lf.suffstats_fit(LinearRegression(), df, ["x"], "y", cv)
        # same-invocation reuse: second call with the memo warm is free
        assert lf.suffstats_fit(LinearRegression(), df, ["x"], "y", cv)
        assert len(calls) == 1
        release_all_pinned(spark)
        assert not lf._MOMENT_CACHE, "terminal must drop the moment memo"
        assert lf.suffstats_fit(LinearRegression(), df, ["x"], "y", cv)
        assert len(calls) == 2, "post-release invocation must recompute"
    finally:
        lf._fold_moments = real


def test_release_all_pinned_empties_the_sql_cache_index(spark):
    """``df.cache()`` relations leave the cache manager's index too, so
    a re-planned query cannot resolve to a released block."""
    df = spark.range(50).selectExpr("id * 3 AS x")
    df.cache().count()
    assert df.storageLevel.useMemory
    release_all_pinned(spark)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert not df.storageLevel.useMemory
