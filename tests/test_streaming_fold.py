"""The shared streaming fold core (``streaming.rolling.fold_batches``)
and drain (``streaming.rolling.drain``): one empty-batch rule for every
keyed-fold gate, and one zero-batch retry for every registry drain."""

from __future__ import annotations

import pytest

from panelsplit_spark.streaming.rolling import (
    drain,
    replay_feed,
    stream_apply_changes,
    stream_ks_counts,
    stream_scd2_versions,
    write_file_batches,
)

_CHANGES = "k long, val long, _version long, _op string"


def _run_gate(spark, dfs, feed, gate, *args, **kw):
    write_file_batches(dfs, feed)
    stream = replay_feed(spark, dfs[0].schema, feed)
    q, get = gate(stream, *args, **kw)
    q.awaitTermination()
    return get()


def test_all_empty_feed_seeds_an_empty_state(spark, tmp_path):
    """The first micro-batch seeds the state even when it has no rows,
    so an all-empty feed drains to an empty frame, not ``None``."""
    empty = spark.createDataFrame([], "seg string, val long")
    got = _run_gate(
        spark, [empty, empty], str(tmp_path / "feed"), stream_ks_counts,
        "seg", "val", query_name="t_fold_empty_ks",
    )
    assert got is not None
    assert got.columns == ["segment", "v", "c"]
    assert got.count() == 0


def test_all_empty_change_feed_drains_empty_table(spark, tmp_path):
    empty = spark.createDataFrame([], _CHANGES)
    got = _run_gate(
        spark, [empty, empty], str(tmp_path / "feed"), stream_apply_changes,
        value_cols=["val"], keys=["k"], query_name="t_fold_empty_cdc",
    )
    assert got is not None
    assert got.columns == ["k", "val"]
    assert got.count() == 0


def test_empty_middle_batch_is_skipped(spark, tmp_path):
    """A later batch with no rows leaves the drained state as if the
    batch were not in the feed."""
    b0 = spark.createDataFrame(
        [(1, 10, 1, "U"), (2, 20, 2, "U"), (1, 11, 3, "U")], _CHANGES
    )
    b2 = spark.createDataFrame([(2, 21, 4, "U"), (3, 30, 5, "U")], _CHANGES)
    empty = spark.createDataFrame([], _CHANGES)
    kw = dict(keys=["k"], version_cols=["_version"], payload_cols=["val"])
    with_gap = _run_gate(
        spark, [b0, empty, b2], str(tmp_path / "gap"), stream_scd2_versions,
        query_name="t_fold_gap", **kw,
    )
    without = _run_gate(
        spark, [b0, b2], str(tmp_path / "nogap"), stream_scd2_versions,
        query_name="t_fold_nogap", **kw,
    )
    assert sorted(with_gap.collect()) == sorted(without.collect())
    assert with_gap.count() == 5


def test_drain_raises_after_two_zero_batch_runs(spark, tmp_path):
    """A feed with no files runs no micro-batch: ``drain`` rebuilds the
    query once, then raises naming it."""
    feed = tmp_path / "nofiles"
    feed.mkdir()
    schema = spark.createDataFrame([], "seg string, val long").schema
    starts = []

    def start():
        starts.append(1)
        return stream_ks_counts(
            replay_feed(spark, schema, str(feed)), "seg", "val",
            query_name="t_fold_nofiles",
        )

    with pytest.raises(RuntimeError, match="t_fold_nofiles"):
        drain(spark, "t_fold_nofiles", start)
    assert len(starts) == 2
