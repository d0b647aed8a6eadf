"""Spark event-log reader: one record per SQL execution.

For each execution it gives the wall interval, the table it wrote (the
output path ``.../data/<table>/snap-<id>`` of the snapshot catalog), the
task metrics summed over its stages (run time, input, shuffle bytes), the
Python SQL metrics of its ``ArrowEvalPython``/``BatchEvalPython`` nodes
(worker time, bytes sent to and returned from the workers), and which
marked file scans actually ran in it.

A scan "ran" in an execution when one of its tasks updated the scan node's
metrics. Plans that read a cached relation still print the cached plan's
scan, but only the execution that materializes the cache updates it, so
this counts executions of the scan, not mentions of it.

``layers.py`` reads the traced run's log with it; ``test_eventlog.py``
checks it on a recorded tiny log.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

WRITE_RE = re.compile(r"InsertIntoHadoopFsRelationCommand (?:file:)?([^\s,]+),")
TABLE_RE = re.compile(r"/data/([A-Za-z0-9_]+)/snap-(\d+)/?$")

# SQL metric display names of the Python evaluation nodes
PY_TIME = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Execution:
    id: int
    start_ms: int = 0
    end_ms: int = 0
    output_path: str | None = None
    table: str | None = None
    snapshot: int | None = None
    run_ms: int = 0  # executor run time, summed over tasks
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    python_s: float = 0.0
    python_bytes_sent: int = 0
    python_bytes_received: int = 0
    scans_run: set[str] = field(default_factory=set)

    @property
    def wall_s(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith("events_") or f.startswith("local-") or f.startswith("app-"):
                out.append(os.path.join(root, f))

    def order(p: str):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)

    return sorted(out, key=order)


def iter_events(path: str):
    for f in _event_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _walk(node: dict):
    yield node
    for c in node.get("children", []):
        yield from _walk(c)


def _metric_scale(metric_type: str | None) -> float:
    # timing metrics are recorded in ms, nsTiming ones in ns
    return {"nsTiming": 1e-9, "timing": 1e-3}.get(metric_type or "", 1.0)


def read_executions(path: str, scan_markers: dict[str, str] | None = None) -> dict[int, Execution]:
    """Executions of the event log at ``path``. ``scan_markers`` maps a
    label to a substring of a scan's file location; ``Execution.scans_run``
    holds the labels of the marked scans that executed."""
    scan_markers = scan_markers or {}
    execs: dict[int, Execution] = {}
    stage_exec: dict[int, int] = {}
    # accumulator id -> (kind, scale); kind is a python metric name or
    # "scan:<label>"
    accs: dict[int, tuple[str, float]] = {}

    def learn_plan(ex: Execution, plan: dict) -> None:
        for node in _walk(plan):
            name = node.get("nodeName", "")
            if ex.output_path is None and name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                m = WRITE_RE.search(node.get("simpleString", ""))
                if m:
                    ex.output_path = m.group(1)
                    t = TABLE_RE.search(ex.output_path)
                    if t:
                        ex.table, ex.snapshot = t.group(1), int(t.group(2))
            if name.startswith("Scan parquet"):
                loc = node.get("metadata", {}).get("Location", "") or node.get("simpleString", "")
                for label, marker in scan_markers.items():
                    if marker in loc:
                        for m in node.get("metrics", []):
                            accs[m["accumulatorId"]] = (f"scan:{label}", 1.0)
            for m in node.get("metrics", []):
                if m["name"] in (PY_TIME, PY_SENT, PY_RECV):
                    accs[m["accumulatorId"]] = (m["name"], _metric_scale(m.get("metricType")))

    def apply(ex: Execution, acc_id: int, value) -> None:
        kind = accs.get(acc_id)
        if kind is None:
            return
        v = float(value) * kind[1]
        if kind[0] == PY_TIME:
            ex.python_s += v
        elif kind[0] == PY_SENT:
            ex.python_bytes_sent += int(v)
        elif kind[0] == PY_RECV:
            ex.python_bytes_received += int(v)
        elif v > 0:
            ex.scans_run.add(kind[0][5:])

    for e in iter_events(path):
        ev = e.get("Event", "")
        if ev.endswith("SQLExecutionStart"):
            ex = execs.setdefault(e["executionId"], Execution(e["executionId"]))
            ex.start_ms = e["time"]
            learn_plan(ex, e["sparkPlanInfo"])
        elif ev.endswith("SQLAdaptiveExecutionUpdate"):
            ex = execs.setdefault(e["executionId"], Execution(e["executionId"]))
            learn_plan(ex, e["sparkPlanInfo"])
        elif ev.endswith("SQLExecutionEnd"):
            execs.setdefault(e["executionId"], Execution(e["executionId"])).end_ms = e["time"]
        elif ev == "SparkListenerJobStart":
            eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if eid is not None:
                for sid in e.get("Stage IDs", []):
                    stage_exec[sid] = int(eid)
        elif ev == "SparkListenerTaskEnd":
            eid = stage_exec.get(e["Stage ID"])
            if eid is None or eid not in execs:
                continue
            ex = execs[eid]
            tm = e.get("Task Metrics") or {}
            ex.run_ms += tm.get("Executor Run Time", 0)
            ex.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            ex.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            ex.shuffle_read_bytes += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                apply(ex, a["ID"], a.get("Update", 0))
        elif ev.endswith("DriverAccumUpdates"):
            ex = execs.get(e["executionId"])
            if ex is not None:
                for acc_id, value in e.get("accumUpdates", []):
                    apply(ex, acc_id, value)
    return execs
