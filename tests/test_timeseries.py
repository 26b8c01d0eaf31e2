"""sessionize / asof_join / ivf_topk operator semantics on small
hand-checkable frames (golden values computed by hand)."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from panelsplit_spark.operators.timeseries import asof_join, sessionize
from panelsplit_spark.operators.similarity import cosine_topk, ivf_topk


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


@pytest.fixture(scope="module")
def ev(spark):
    rows = [
        # user 1: events at minutes 0, 5, 40, 41 — gap 600s splits at 40
        Row(user_id=1, event_id=1, ts=_ts(0), value=1.0),
        Row(user_id=1, event_id=2, ts=_ts(5), value=2.0),
        Row(user_id=1, event_id=3, ts=_ts(40), value=3.0),
        Row(user_id=1, event_id=4, ts=_ts(41), value=4.0),
        # user 2: single event
        Row(user_id=2, event_id=5, ts=_ts(10), value=5.0),
    ]
    return spark.createDataFrame(rows)


def test_sessionize_gap_splits(ev):
    out = sessionize(ev, ["user_id"], "ts", 600, order_cols=["event_id"])
    got = {
        r["event_id"]: r["session_id"]
        for r in out.select("event_id", "session_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 1}


def test_sessionize_boundary_inclusive(spark):
    # gap exactly equal to the threshold does NOT start a new session
    rows = [
        Row(user_id=1, event_id=1, ts=_ts(0), value=0.0),
        Row(user_id=1, event_id=2, ts=_ts(10), value=0.0),
    ]
    out = sessionize(
        spark.createDataFrame(rows), ["user_id"], "ts", 600
    )
    assert {r["session_id"] for r in out.collect()} == {1}


def test_asof_backward_inclusive(spark, ev):
    left = spark.createDataFrame(
        [
            Row(user_id=1, k=10, ts=_ts(5)),   # ties event 2 (inclusive)
            Row(user_id=1, k=11, ts=_ts(39)),  # before event 3
            Row(user_id=1, k=12, ts=_ts(50)),  # after everything
            Row(user_id=2, k=13, ts=_ts(0)),   # before user 2's event
            Row(user_id=3, k=14, ts=_ts(0)),   # user with no events
        ]
    )
    out = asof_join(
        left,
        ev.withColumnRenamed("ts", "ev_ts"),
        on=["user_id"],
        left_ts="ts",
        right_ts="ev_ts",
        right_cols=["event_id", "value"],
        right_order=["event_id"],
    )
    got = {
        r["k"]: (r["asof_event_id"], r["asof_value"])
        for r in out.collect()
    }
    assert got == {
        10: (2, 2.0),
        11: (2, 2.0),
        12: (4, 4.0),
        13: (None, None),
        14: (None, None),
    }


def test_asof_tolerance(spark, ev):
    left = spark.createDataFrame([Row(user_id=1, k=1, ts=_ts(50))])
    out = asof_join(
        left,
        ev.withColumnRenamed("ts", "ev_ts"),
        on=["user_id"],
        left_ts="ts",
        right_ts="ev_ts",
        right_cols=["event_id"],
        tolerance_seconds=300,  # 41 → 50 is 540 s: too old
    )
    assert out.collect()[0]["asof_event_id"] is None


def test_asof_ties_pick_last_by_order(spark):
    t = _ts(0)
    right = spark.createDataFrame(
        [
            Row(user_id=1, rts=t, rid=1),
            Row(user_id=1, rts=t, rid=2),  # same ts — higher rid wins
        ]
    )
    left = spark.createDataFrame([Row(user_id=1, ts=t)])
    out = asof_join(
        left, right, on=["user_id"], left_ts="ts", right_ts="rts",
        right_cols=["rid"], right_order=["rid"],
    )
    assert out.collect()[0]["asof_rid"] == 2


def test_ivf_matches_exact_when_probing_all_cells(spark):
    import random

    rng = random.Random(7)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows)
    qs = emb.where(F.col("vec_id") < 3)
    exact = cosine_topk(emb, qs, k=5)
    # probing every cell makes IVF exhaustive → must equal brute force
    ivf = ivf_topk(emb, qs, k=5, n_cells=4, n_probe=4)
    key = lambda df: sorted(
        (r["query_id"], r["rank"], r["neighbor_id"]) for r in df.collect()
    )
    assert key(ivf) == key(exact)


def test_ivf_probe_subset_is_subset_of_exact_candidates(spark):
    import random

    rng = random.Random(11)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows)
    qs = emb.where(F.col("vec_id") < 3)
    ivf = ivf_topk(emb, qs, k=5, n_cells=4, n_probe=1)
    # per query: at most k results, ranks contiguous from 1
    per_q = {}
    for r in ivf.collect():
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= 5


def test_asof_join_differential_vs_pandas_merge_asof(spark):
    """asof_join (both directions, with/without tolerance) equals
    pandas.merge_asof on randomized keyed time series — an independent
    reference implementation of as-of semantics."""
    import numpy as np
    import pandas as pd

    from panelsplit_spark.operators.timeseries import asof_join

    rng = np.random.default_rng(17)
    left_rows, right_rows = [], []
    rid = 0
    for k in range(5):
        lt = np.sort(rng.choice(np.arange(0, 500), size=30, replace=False))
        rt = np.sort(rng.choice(np.arange(0, 500), size=20, replace=False))
        for i, t in enumerate(lt):
            left_rows.append((k, int(t), k * 100 + i))
        for t in rt:
            right_rows.append((k, int(t), float(rid)))
            rid += 1
    lpdf = pd.DataFrame(left_rows, columns=["k", "t", "lid"])
    rpdf = pd.DataFrame(right_rows, columns=["k", "t", "rv"])
    base = pd.Timestamp("2024-01-01")
    lpdf["ts"] = base + pd.to_timedelta(lpdf["t"], unit="s")
    rpdf["ts"] = base + pd.to_timedelta(rpdf["t"], unit="s")

    ldf = spark.createDataFrame(lpdf[["k", "lid", "ts"]])
    rdf = spark.createDataFrame(
        rpdf[["k", "rv", "ts"]].rename(columns={"ts": "rts"})
    )

    for direction in ("backward", "forward"):
        for tol in (None, 60.0):
            got = asof_join(
                ldf,
                rdf,
                on=["k"],
                left_ts="ts",
                right_ts="rts",
                right_cols=["rv"],
                tolerance_seconds=tol,
                direction=direction,
            ).collect()
            exp = pd.merge_asof(
                lpdf.sort_values("ts"),
                rpdf.sort_values("ts")[["k", "ts", "rv"]],
                on="ts",
                by="k",
                direction=direction,
                allow_exact_matches=True,
                tolerance=(
                    pd.Timedelta(seconds=tol) if tol is not None else None
                ),
            ).set_index("lid")["rv"]
            assert len(got) == len(lpdf)
            for r in got:
                e = exp.loc[r["lid"]]
                g = r["asof_rv"]
                if pd.isna(e):
                    assert g is None, (direction, tol, r["lid"], g, e)
                else:
                    assert g == e, (direction, tol, r["lid"], g, e)


def test_resample_daily_ffill_gaps(spark):
    from panelsplit_spark.operators.timeseries import resample_daily_ffill

    df = spark.createDataFrame(
        [
            (1, "2024-01-01", 10),
            (1, "2024-01-04", 40),     # 2-day gap
            (2, "2024-01-02", 20),     # single-day span
            (3, "2024-01-01", None),   # observed but null value
            (3, "2024-01-03", 30),
        ],
        "e long, d string, v long",
    )
    out = {
        (r["e"], str(r["d"])): (r["is_gap"], r["v"])
        for r in resample_daily_ffill(df, "e", "d", ["v"]).collect()
    }
    assert out == {
        (1, "2024-01-01"): (0, 10),
        (1, "2024-01-02"): (1, 10),
        (1, "2024-01-03"): (1, 10),
        (1, "2024-01-04"): (0, 40),
        (2, "2024-01-02"): (0, 20),
        (3, "2024-01-01"): (1, None),   # null observation: no fill source
        (3, "2024-01-02"): (1, None),
        (3, "2024-01-03"): (0, 30),
    }


def test_ivf_probe_sweep_matches_per_probe_ivf_topk(spark):
    """One scored pass at max(probes) must reproduce ivf_topk exactly
    at EVERY probe count — candidate sets nest, so crank<=p over the
    materialized sweep table is the p-probe run."""
    import random

    from panelsplit_spark.operators.similarity import ivf_probe_sweep

    rng = random.Random(23)
    rows = [
        Row(vec_id=i, embedding=[rng.uniform(-1, 1) for _ in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(rows)
    qs = emb.where(F.col("vec_id") < 4)
    sweep = ivf_probe_sweep(emb, qs, k=5, n_cells=4, probes=(1, 2, 4))
    key = lambda df: sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["cosine"])
        for r in df.collect()
    )
    for p in (1, 2, 4):
        ref = ivf_topk(emb, qs, k=5, n_cells=4, n_probe=p)
        assert key(sweep[p]) == key(ref), f"probe {p} diverged"


def test_ivf_probe_sweep_rejects_empty_probes():
    """An empty probe list is a caller error, reported before any Spark
    work (the frames are never touched)."""
    from panelsplit_spark.operators.similarity import ivf_probe_sweep

    with pytest.raises(ValueError, match="at least one probe"):
        ivf_probe_sweep(None, None, k=5, n_cells=4, probes=())
