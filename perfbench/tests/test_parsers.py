"""Fixture tests for the event-log and streaming-progress parsers."""

import json
import os

from perfbench.spans import parse_event_log, parse_progress

FIX = os.path.join(os.path.dirname(__file__), "fixtures")
WINDOW = [(1.5, 3.5)]  # epoch seconds; the fixture's job 0 falls before it


def test_event_log_totals_inside_window():
    with open(os.path.join(FIX, "eventlog.jsonl")) as f:
        out = parse_event_log(f, WINDOW, scan_path="/data/cache/multi4/wal")
    assert out == {
        "jobs": 2,
        "tasks": 5,
        "busy_ms": 690,
        "shuffle_write_bytes": 60,
        "spill_bytes": 7,
        "gc_ms": 10,
        "input_bytes": 1600,
        "scan_input_bytes": 600,  # only the job whose plan scans the WAL
        "task_skew": 1.5,         # stage 1: max 300 ms / median 200 ms
    }


def test_event_log_without_scan_path_counts_no_scan_bytes():
    with open(os.path.join(FIX, "eventlog.jsonl")) as f:
        assert parse_event_log(f, WINDOW)["scan_input_bytes"] == 0


def test_progress_inside_window():
    with open(os.path.join(FIX, "progress.json")) as f:
        out = parse_progress(json.load(f), WINDOW)
    assert out == {
        "stream.triggers": 3,
        "stream.trigger_ms_p50": 100.0,
        "stream.add_batch_ms_p50": 60.0,
        "state.rows_total": 11,
        "state.memory_bytes": 3000,
        "state.commit_ms": 5.0,
    }
