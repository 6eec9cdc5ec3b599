"""Spans, medians, and the parsers that turn a traced run's Spark event log
and ``StreamingQueryListener`` progress into per-layer metric names.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Tracer:
    """In-memory spans (name, start, end, parent) sharing one run id; written
    out once, at exit. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "run_id": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f)


# --------------------------------------------------------------- event log
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"


def _in(ms: float, windows) -> bool:
    return any(lo * 1000 <= ms <= hi * 1000 for lo, hi in windows)


def parse_event_log(lines, windows, scan_path: str | None = None) -> dict:
    """Spark totals over the jobs submitted inside ``windows`` ([(start_s,
    end_s)], epoch seconds): jobs, tasks, task busy ms, shuffle bytes
    written, bytes spilled, GC ms, input bytes, the task skew (max / median
    task time) of the longest stage, and the input bytes of jobs whose SQL
    plan scans ``scan_path``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_scans: dict[str, bool] = {}
    tasks: list[dict] = []
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "t": ev["Submission Time"],
                "exec": props.get("spark.sql.execution.id"),
            }
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == _SQL_START:
            plan = ev.get("physicalPlanDescription", "")
            exec_scans[str(ev["executionId"])] = bool(scan_path) and scan_path in plan
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    in_jobs = {j for j, info in jobs.items() if _in(info["t"], windows)}
    out = {
        "jobs": len(in_jobs), "tasks": 0, "busy_ms": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "gc_ms": 0, "input_bytes": 0, "scan_input_bytes": 0,
    }
    per_stage: dict[int, list[int]] = {}
    for ev in tasks:
        jid = stage_job.get(ev["Stage ID"])
        if jid not in in_jobs:
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        dur = info["Finish Time"] - info["Launch Time"]
        per_stage.setdefault(ev["Stage ID"], []).append(dur)
        read = (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        out["tasks"] += 1
        out["busy_ms"] += dur
        out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        out["gc_ms"] += m.get("JVM GC Time", 0)
        out["input_bytes"] += read
        if exec_scans.get(str(jobs[jid]["exec"])):
            out["scan_input_bytes"] += read
    if per_stage:
        longest = max(per_stage.values(), key=sum)
        out["task_skew"] = max(longest) / max(statistics.median(longest), 1)
    else:
        out["task_skew"] = 0.0
    return out


# ------------------------------------------------------- streaming progress
def _epoch_s(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def parse_progress(progress: list[dict], windows) -> dict:
    """``StreamingQueryProgress`` dicts of the triggers that started inside
    ``windows`` -> stream/state metrics."""
    progress = [p for p in progress if _in(_epoch_s(p["timestamp"]) * 1000, windows)]
    dur = [p.get("durationMs") or {} for p in progress]
    ops = [(p.get("stateOperators") or [{}])[0] for p in progress]
    return {
        "stream.triggers": len(progress),
        "stream.trigger_ms_p50": median([d["triggerExecution"] for d in dur if "triggerExecution" in d]),
        "stream.add_batch_ms_p50": median([d["addBatch"] for d in dur if "addBatch" in d]),
        "state.rows_total": max((o.get("numRowsTotal", 0) for o in ops), default=0),
        "state.memory_bytes": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
        "state.commit_ms": median([o["commitTimeMs"] for o in ops if "commitTimeMs" in o]),
    }
