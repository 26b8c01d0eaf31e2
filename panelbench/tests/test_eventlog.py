"""Event-log reader against a small uncompressed rolling log.

The fixture is a trimmed Spark 4.1 log of two job groups: ``span-a`` ran
a grouped-map pandas UDF (jobs 0-1), ``span-b`` a plain aggregate
(jobs 2-3). Its rolling parts split between the two groups.

    python3 -m pytest panelbench/tests -q
"""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
from eventlog import Span  # noqa: E402

LOG = os.path.join(HERE, "fixtures", "eventlog_v2_local-fixture")
T0 = 1792192831500  # epoch ms, just before the first event of interest


def _spans():
    return [
        Span("request", T0, T0 + 7400),
        Span("a", T0 + 100, T0 + 6200, parent=0),
        Span("b", T0 + 6250, T0 + 7300, parent=0),
    ]


def test_rolling_parts_read_in_order():
    files = eventlog.log_files(LOG)
    assert [os.path.basename(f) for f in files] == [
        "events_1_local-fixture", "events_2_local-fixture",
    ]
    events = list(eventlog.read_events(LOG))
    jobs = [e["Job ID"] for e in events if e["Event"] == "SparkListenerJobStart"]
    assert jobs == [0, 1, 2, 3]


def test_missing_or_compressed_logs_are_refused(tmp_path):
    with pytest.raises(ValueError, match="no events_"):
        eventlog.log_files(str(tmp_path))
    z = tmp_path / "eventlog_v2_z"
    z.mkdir()
    (z / "events_1_z.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(ValueError, match="compress=false"):
        eventlog.log_files(str(z))
    with pytest.raises(FileNotFoundError):
        eventlog.log_files(str(tmp_path / "missing"))


def test_span_metrics_by_time_attribution():
    log = eventlog.parse(eventlog.read_events(LOG))
    req, a, b = eventlog.span_metrics(_spans(), log)

    assert (a["jobs"], a["tasks"], b["jobs"], b["tasks"]) == (2, 3, 2, 3)
    assert req["jobs"] == req["tasks"] == 0
    # stage 0 (2 tasks) + stage 2 (1 task) ran under span a
    assert a["task_wait_ms"] == 231 + 215 + 35
    assert a["exec_cpu_ms"] == pytest.approx(
        (90270716 + 174307668 + 519856001) / 1e6
    )
    assert (a["gc_ms"], a["shuffle_write_bytes"]) == (40, 138)
    assert (b["gc_ms"], b["shuffle_write_bytes"]) == (50, 123)
    assert a["python_bytes"] == 1008 and b["python_bytes"] == 0
    assert a["runs_python"] and not b["runs_python"]
    assert a["spill_bytes"] == b["failed_tasks"] == 0
    # wall minus the union of the span's stage intervals
    assert a["driver_ms"] == 6100 - (2126 + 2545)
    assert b["driver_ms"] == 1050 - (456 + 124)
    # self time: the request minus its two children
    assert req["self_ms"] == 7400 - 6100 - 1050
    assert a["self_ms"] == 6100


def test_covered_merges_overlaps_and_clips():
    iv = [(0, 10), (5, 15), (20, 30), (29, 40)]
    assert eventlog._covered(iv, 0, 100) == 15 + 20
    assert eventlog._covered(iv, 8, 25) == 7 + 5
    assert eventlog._covered([], 0, 10) == 0
