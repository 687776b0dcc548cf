"""Spans around the benchmark's calls into each layer of the program.

A span is opened around one public call (a pipeline stage, a query's
build or its execution).  While it is open, every Spark job runs under
the span's job group, so each job can be charged to exactly one span.
Spans are kept in memory and written out once, at the end of the run.

Job, task, executor-time and shuffle counts come from the Spark event
log, which only the traced run enables.  Untraced runs use the same
``Tracer`` with ``enabled=False``: it sets no job group and records
nothing, so the end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans and counts of one run, written out by ``write`` at its end."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, list[float]] = {}
        self._stack: list[str] = []

    @contextmanager
    def span(self, name: str, op: int, label: str | None = None):
        """Record ``name`` for operation ``op``; nests under the open span.
        ``label`` splits one span name by what it ran (the query name)."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        sid = f"{self.run_id}:{len(self.spans)}"
        rec = {
            "id": sid,
            "name": name,
            "op": op,
            "label": label,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.monotonic(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setJobGroup(sid, name)
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1], "")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def count(self, name: str, value: float) -> None:
        """A count taken at a layer boundary (rows, bytes) for one operation."""
        if self.enabled:
            self.counts.setdefault(name, []).append(value)

    def write(self, path: str, summary: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "summary": summary, "spans": self.spans}, f, indent=1)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: {jobs, tasks, busy_s, shuffle_bytes, failed_tasks,
    shuffle_records}, from the event logs under ``log_dir``: one entry
    per application, a file or a directory of rolled ``events_*`` files."""
    groups: dict[str, dict] = {}

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {"jobs": 0, "tasks": 0, "busy_s": 0.0, "shuffle_bytes": 0,
             "shuffle_records": 0, "failed_tasks": 0},
        )

    for app in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, app)
        files = (
            [os.path.join(path, f) for f in sorted(os.listdir(path)) if f.startswith("events_")]
            if os.path.isdir(path) else [path]
        )
        stage_group: dict[int, str] = {}  # stage ids restart in every application
        for fname in files:
            with open(fname) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        if group is None:
                            continue
                        g(group)["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                    elif kind == "SparkListenerTaskEnd":
                        group = stage_group.get(ev.get("Stage ID"))
                        if group is None:
                            continue
                        rec = g(group)
                        rec["tasks"] += 1
                        reason = (ev.get("Task End Reason") or {}).get("Reason")
                        if reason != "Success":
                            rec["failed_tasks"] += 1
                        m = ev.get("Task Metrics") or {}
                        rec["busy_s"] += m.get("Executor Run Time", 0) / 1000.0
                        w = m.get("Shuffle Write Metrics") or {}
                        rec["shuffle_bytes"] += w.get("Shuffle Bytes Written", 0)
                        rec["shuffle_records"] += w.get("Shuffle Records Written", 0)
    return groups


def span_table(spans: list[dict], groups: dict[str, dict], cores: int) -> dict[str, dict]:
    """Per span name: wall_s, jobs, tasks, busy_s (executor run time),
    shuffle_bytes, idle_ratio, failed_tasks and shuffle_records, each the
    median over operations of the per-operation total, where a span's
    counts include those of its descendants.
    Labelled spans are also summed per label, under
    ``<first part of the name>.<label>``."""
    children: dict[str, list[str]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def totals(sid: str) -> dict:
        own = groups.get(sid, {})
        out = {k: own.get(k, 0) for k in
               ("jobs", "tasks", "busy_s", "shuffle_bytes", "shuffle_records", "failed_tasks")}
        for c in children.get(sid, []):
            for k, v in totals(c).items():
                out[k] += v
        return out

    per_op: dict[tuple[str, int], dict] = {}
    for sid, s in by_id.items():
        t = totals(sid)
        t["wall_s"] = s["end"] - s["start"]
        keys = [s["name"]]
        if s.get("label"):
            keys.append(f'{s["name"].split(".")[0]}.{s["label"]}')
        for key in keys:
            acc = per_op.setdefault((key, s["op"]), {k: 0 for k in t})
            for k, v in t.items():
                acc[k] += v
    by_name: dict[str, list[dict]] = {}
    for (name, _op), vals in per_op.items():
        by_name.setdefault(name, []).append(vals)
    table = {}
    for name, ops in by_name.items():
        row = {k: statistics.median([o[k] for o in ops]) for k in ops[0]}
        wall_cores = row["wall_s"] * cores
        row["idle_ratio"] = max(0.0, 1.0 - row["busy_s"] / wall_cores) if wall_cores > 0 else 0.0
        table[name] = row
    return table
