"""Self-time arithmetic and the event-log summary of the traced run."""

import json

import pytest

from perfbench.tracing import (Tracer, covered, layer_self_seconds,
                               self_times, summarize_eventlog)


def span(name, start, end, parent=None):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "run_id": "r"}


def test_covered_merges_overlaps_and_gaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_time_subtracts_children_once():
    spans = [span("root", 0, 10),
             span("a", 1, 4, 0), span("b", 3, 6, 0),   # overlap 3..4
             span("a.child", 2, 3, 1)]
    assert self_times(spans) == pytest.approx([5, 2, 3, 1])


def test_self_time_clips_children_to_parent():
    spans = [span("root", 0, 4), span("late", 3, 9, 0)]
    assert self_times(spans)[0] == pytest.approx(3)


def test_layer_self_seconds_sums_repeated_layers():
    spans = [span("root", 0, 10), span("m", 0, 2, 0), span("x", 2, 7, 0),
             span("m", 7, 9, 0)]
    got = layer_self_seconds(spans)
    assert got == pytest.approx({"root": 1, "m": 4, "x": 5})
    # the self times of a tree always add up to the root's duration
    assert sum(got.values()) == pytest.approx(10)


def test_tracer_records_parent_links():
    tr = Tracer("run-1")
    with tr.span("root"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("c"):
                pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [
        ("root", None), ("a", 0), ("b", 0), ("c", 2)]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    assert {s["run_id"] for s in tr.spans} == {"run-1"}


def test_summarize_eventlog(tmp_path):
    def task(stage, run_ms, records=0, shuffle=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {
                    "Executor Run Time": run_ms, "JVM GC Time": 10,
                    "Disk Bytes Spilled": 0,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written":
                                              shuffle},
                    "Input Metrics": {"Records Read": records}}}

    text_scope = json.dumps({"id": "1", "name": "Scan text "})
    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "extract"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "link"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "RDD Info": [
             {"Name": "FileScanRDD", "Scope": text_scope}]}},
        task(0, 100, records=7), task(0, 300, records=5, shuffle=2**20),
        task(1, 50, records=9),
        task(2, 10), task(2, 10), task(2, 40),
    ]
    log = tmp_path / "events"
    log.write_text("".join(json.dumps(e) + "\n" for e in events))
    got = summarize_eventlog(log)
    ex, ln = got["extract"], got["link"]
    assert ex["task_s"] == pytest.approx(0.45)
    assert ex["gc_s"] == pytest.approx(0.03)
    assert ex["shuffle_write_mb"] == pytest.approx(1)
    # only stage 0 scans text; stage 1's records are not text lines
    assert ex["text_records_read"] == 12
    # heaviest stage of extract is stage 0: max 300 / median 200
    assert ex["task_max_over_median"] == pytest.approx(1.5)
    assert ln["task_s"] == pytest.approx(0.06)
    assert ln["task_max_over_median"] == pytest.approx(4)
