"""Spans recorded by the benchmark around its calls into each layer, and
per-job-group totals read back from Spark's event log.

Spans stay in memory and are written once, at the end of a traced run.
The untraced run uses ``NullTracer``: same call sites, no job groups, no
records.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
import uuid
from collections import defaultdict


class Tracer:
    enabled = True

    def __init__(self, sc):
        self.sc = sc
        self.run_id = uuid.uuid4().hex[:12]
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        """Time a block; when ``group`` is given, the Spark jobs it fires
        carry that job group so the event log can attribute them."""
        if group is not None:
            self.sc.setJobGroup(group, name)
        rec = {"name": name, "run_id": self.run_id, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group is not None:
                self.sc.setJobGroup("", "")

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        """Add a span measured elsewhere (a micro-batch, from progress)."""
        self.spans.append({"name": name, "run_id": self.run_id, "id": len(self.spans),
                           "parent": None, "start": start, "end": end, **attrs})

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(json.dumps({"run_id": self.run_id, **extra}) + "\n")
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name, group=None, **attrs):
        yield {}

    def record(self, *a, **k):
        pass


TASK_FIELDS = ("tasks", "tasks_failed", "executor_run_s", "executor_cpu_s",
                "gc_s", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group (or streaming batch id, as ``batch:<id>``): job
    count, summed job wall seconds, completed stages, and task totals."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    groups = defaultdict(lambda: defaultdict(float))
    job_group, job_start, stage_group = {}, {}, {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or ""
                    if props.get("streaming.sql.batchId") is not None:
                        g = f"batch:{props['streaming.sql.batchId']}"
                    jid = ev["Job ID"]
                    job_group[jid], job_start[jid] = g, ev["Submission Time"]
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]]["job_s"] += (
                            ev["Completion Time"] - job_start[jid]) / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    groups[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev["Stage ID"], "")]
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    g["tasks"] += 1
                    g["tasks_failed"] += bool(info.get("Failed") or info.get("Killed"))
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    g["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    g["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {k: dict(v) for k, v in groups.items()}


def sum_groups(groups: dict[str, dict], select) -> dict[str, float]:
    """Add up the totals of every group whose name ``select`` accepts."""
    out = defaultdict(float)
    for name, vals in groups.items():
        if select(name):
            for k, v in vals.items():
                out[k] += v
    return {k: out.get(k, 0.0) for k in ("jobs", "job_s", "stages", *TASK_FIELDS)}
