"""Test of the event-log reader on a recorded tiny log.

    python3 -m pytest perfbench/test_eventlog.py -q

The log (testdata/record_eventlog.py records it) holds four SQL executions:
the marked ``web.parquet`` write, a pandas-UDF write to ``pages``, an
aggregate over a cached projection written to ``host_counts`` (it fills the
cache, so the web scan runs), and a write to ``seen`` served by the cache.
"""

from __future__ import annotations

import os

from perfbench.eventlog import read_executions
from perfbench.trace import self_times, union_length

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata", "eventlog_tiny.jsonl")


def _by_table():
    execs = read_executions(LOG, {"web": "web.parquet"})
    return execs, {ex.table: ex for ex in execs.values() if ex.table}


def test_output_paths_map_to_catalog_tables():
    execs, by_table = _by_table()
    assert len(execs) == 4
    assert set(by_table) == {"pages", "host_counts", "seen"}
    assert all(ex.snapshot == 1 for ex in by_table.values())
    assert by_table["pages"].output_path.endswith("/data/pages/snap-1")
    assert all(ex.end_ms >= ex.start_ms > 0 for ex in execs.values())


def test_python_metrics_only_on_the_udf_write():
    _, by_table = _by_table()
    pages = by_table["pages"]
    assert pages.python_s > 0
    assert pages.python_bytes_sent > 0 and pages.python_bytes_received > 0
    for t in ("host_counts", "seen"):
        assert by_table[t].python_s == 0 and by_table[t].python_bytes_sent == 0


def test_scan_counts_executions_not_plan_mentions():
    _, by_table = _by_table()
    assert "web" in by_table["pages"].scans_run
    assert "web" in by_table["host_counts"].scans_run  # fills the cache
    assert "web" not in by_table["seen"].scans_run  # served by the cache


def test_task_metrics_summed_per_execution():
    _, by_table = _by_table()
    assert by_table["host_counts"].shuffle_write_bytes > 0
    assert by_table["seen"].shuffle_write_bytes == 0
    assert by_table["pages"].run_ms > 0 and by_table["pages"].input_bytes > 0


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 0, "start": 9.0, "end": 12.0},  # runs past the parent
    ]
    st = self_times(spans)
    assert union_length([(1.0, 4.0), (3.0, 6.0)]) == 5.0
    assert st[0] == 10.0 - 5.0 - 1.0
    assert st[1] == 3.0
