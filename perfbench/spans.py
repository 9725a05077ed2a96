"""Spans around calls into the program's layers, and the Spark
event-log rollup that attributes jobs, stages and tasks to them.

A span is recorded from the benchmark's side of a layer boundary: the
tracer replaces a module's public function with a wrapper that times the
call and tags every Spark job it submits with a job group naming the
open spans (``pipeline.store/lineage.write_audit``). After the session
stops, ``rollup`` reads the event log and sums task metrics per group.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory; job groups set on the driver thread."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.scope: str | None = None
        self._stack: list[str] = []
        self._undo: list[tuple] = []

    def _path(self) -> str:
        return "/".join(([self.scope] if self.scope else []) + self._stack)

    def _apply(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", self._path() or None)

    @contextmanager
    def span(self, name: str):
        parent = self._path() or None
        self._stack.append(name)
        self._apply()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            dur = time.perf_counter() - t0
            self._stack.pop()
            self._apply()
            self.spans.append({"name": name, "parent": parent, "dur_s": dur})

    def set_scope(self, name: str | None) -> None:
        """Name the outermost level of the job groups (the pipeline
        phase, or the leg) — phases start and end inside
        ``run_pipeline``, where no wrapper can open a span for them."""
        self.scope = name
        self._apply()

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Time every call of ``module.attr`` as span ``name``;
        ``after(args, kwargs)`` runs once the call has returned."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if after is not None:
                after(args, kwargs)
            return out

        setattr(module, attr, wrapped)
        self._undo.append((module, attr, orig))

    def unwrap_all(self) -> None:
        while self._undo:
            module, attr, orig = self._undo.pop()
            setattr(module, attr, orig)

    def total_s(self, name: str) -> float:
        return sum(s["dur_s"] for s in self.spans if s["name"] == name)


class TimedSink:
    """Kept-store sink that runs each verb of ``inner`` inside a span
    (passed as ``run_pipeline(sink=...)``)."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def _call(self, verb: str, *args):
        with self._tracer.span(f"sinks.{verb}"):
            return getattr(self._inner, verb)(*args)

    def validate(self, spark, schema_ddl):
        return self._call("validate", spark, schema_ddl)

    def recover(self, spark):
        return self._call("recover", spark)

    def existing_ids(self, spark, exclude_run_id):
        return self._call("existing_ids", spark, exclude_run_id)

    def write(self, df, run_id):
        return self._call("write", df, run_id)

    def delete(self, spark, run_id, keys):
        # not timed: a first import never deletes
        return self._inner.delete(spark, run_id, keys)

    def read(self, spark):
        return self._call("read", spark)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def _empty() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "task_s": 0.0,
        "task_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
    }


def read_events(log_dir: str):
    """Every event of every application log under ``log_dir``
    (uncompressed, non-rolling logs)."""
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def rollup(events) -> dict:
    """Per job group: job/stage/task counts and summed task metrics.

    Returns {"groups": {group: metrics}, "stage_tasks": {group:
    [[task run seconds, ...] per stage]}}. Jobs and stages without a
    group are filed under ""."""
    groups: dict[str, dict] = {}
    # stage ids restart in every application (set-up cycles each start
    # one): key stages by (application number, stage id)
    app = 0
    stage_group: dict[tuple[int, int], str] = {}
    stage_tasks: dict[tuple[int, int], list[float]] = {}

    def g(name: str | None) -> dict:
        return groups.setdefault(name or "", _empty())

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerApplicationStart":
            app += 1
        elif kind == "SparkListenerJobStart":
            g((e.get("Properties") or {}).get("spark.jobGroup.id"))["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = (app, e["Stage Info"]["Stage ID"])
            grp = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stage_group[sid] = grp
            g(grp)["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            sid = (app, e["Stage ID"])
            r = g(stage_group.get(sid))
            run_s = m.get("Executor Run Time", 0) / 1000
            r["tasks"] += 1
            r["task_s"] += run_s
            r["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += m.get("JVM GC Time", 0) / 1000
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            r["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            r["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            stage_tasks.setdefault(sid, []).append(run_s)
    per_group_tasks: dict[str, list[list[float]]] = {}
    for sid, tasks in stage_tasks.items():
        per_group_tasks.setdefault(stage_group.get(sid, ""), []).append(tasks)
    return {"groups": groups, "stage_tasks": per_group_tasks}


def sum_groups(roll: dict, match) -> dict:
    """Sum the metrics of every group whose name satisfies ``match``."""
    out = _empty()
    for name, r in roll["groups"].items():
        if match(name):
            for k in out:
                out[k] += r[k]
    return out


def task_skew(stages: list[list[float]]) -> float:
    """Max over median task time of the busiest stage (1.0 = even)."""
    busiest = max(stages, key=sum, default=[])
    if not busiest:
        return 0.0
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 0.0
