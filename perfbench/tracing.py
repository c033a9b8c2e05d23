"""Traced-run recorder: in-memory spans and a Spark event-log summary.

Spans are recorded by the benchmark around its calls into each layer's
public function. Each span has a name, a start, an end, a parent and the
run id; they stay in memory until ``Tracer.dump`` writes them at exit.

Every job a layer launches runs under a Spark job group named after the
layer, so the traced session's own event log attributes each stage, and
so each task, to one layer.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Time the enclosed block as one span, child of the open one.
        With a Spark session, jobs started inside run in job group
        ``name``; the enclosing span's group is restored on exit."""
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent,
                           "run_id": self.run_id})
        self._stack.append(idx)
        self._set_group(name)
        try:
            yield
        finally:
            self.spans[idx]["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self.spans[parent]["name"]
                            if parent is not None else None)

    def _set_group(self, name: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if name is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(name, name)

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1))


def covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: list[dict]) -> list[float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        inside = [(max(a, s["start"]), min(b, s["end"]))
                  for a, b in kids.get(i, []) if b > s["start"]
                  and a < s["end"]]
        out.append((s["end"] - s["start"]) - covered(inside))
    return out


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    """Self time summed per span name."""
    out: dict[str, float] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s["name"]] = out.get(s["name"], 0.0) + t
    return out


def summarize_eventlog(path: Path) -> dict[str, dict]:
    """Per job group: task seconds, the heaviest stage's max/median
    task time, shuffle write, disk spill, GC seconds and the records
    read by text-file scans, from one Spark event log file (JSON
    lines)."""
    stage_group: dict[int, str] = {}
    text_scan: set[int] = set()
    tasks: dict[int, list[dict]] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id")
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if any('"Scan text' in (r.get("Scope") or "")
                       for r in info.get("RDD Info", [])):
                    text_scan.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                tasks.setdefault(ev["Stage ID"], []).append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_b": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "spill_b": m.get("Disk Bytes Spilled", 0),
                    "records": (m.get("Input Metrics") or {})
                    .get("Records Read", 0),
                })
    groups: dict[str, dict] = {}
    for sid, ts in tasks.items():
        g = groups.setdefault(stage_group.get(sid), {
            "task_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
            "spill_mb": 0.0, "text_records_read": 0,
            "_heaviest": (0, [])})
        run = [t["run_ms"] for t in ts]
        g["task_s"] += sum(run) / 1e3
        g["gc_s"] += sum(t["gc_ms"] for t in ts) / 1e3
        g["shuffle_write_mb"] += sum(t["shuffle_b"] for t in ts) / 2**20
        g["spill_mb"] += sum(t["spill_b"] for t in ts) / 2**20
        if sid in text_scan:
            g["text_records_read"] += sum(t["records"] for t in ts)
        if sum(run) > g["_heaviest"][0]:
            g["_heaviest"] = (sum(run), run)
    for g in groups.values():
        run = g.pop("_heaviest")[1]
        g["task_max_over_median"] = (
            max(run) / max(statistics.median(run), 1) if run else 0.0)
    return groups
