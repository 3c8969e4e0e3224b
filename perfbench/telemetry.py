"""Spans and per-layer telemetry, recorded from outside the engine.

* ``Tracer`` keeps spans in memory (workload -> pass -> operation -> layer)
  and writes them out once, at the end of a run.
* ``StreamListener`` collects per-trigger ``durationMs`` from a
  ``StreamingQueryListener``; micro-batch jobs run outside the caller's job
  group, so the listener is how trigger time is attributed.
* ``parse_event_log`` reads Spark's uncompressed JSON event log and returns
  jobs, stages, tasks and written-file metrics keyed by submission time, so
  they can be attributed to the operation span that was open at the time.
* ``catalyst_phases`` reads ``QueryPlanningTracker`` phase times.
* ``per_layer`` turns all of the above into the traced run's metrics.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming.listener import StreamingQueryListener


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float          # time.perf_counter()
    end: float = 0.0
    wall_start: float = 0.0   # time.time(), to match event-log timestamps
    wall_end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory spans. ``span()`` nests by the stack of open spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, time.perf_counter(),
                 wall_start=time.time(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.wall_end = time.time()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part its child spans cover."""
        return span.dur - sum(c.dur for c in self.children(span))

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "parent": s.parent, "name": s.name,
                    "start": s.wall_start, "end": s.wall_end,
                    "dur_s": s.dur, "self_s": self.self_time(s), **s.attrs,
                }) + "\n")


class StreamListener(StreamingQueryListener):
    """Per-trigger progress of every streaming query in the session."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._started: set[str] = set()
        self._terminated: set[str] = set()
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        with self._cv:
            self._started.add(str(event.runId))

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._cv:
            self.progress.append({"name": p.name, **dict(p.durationMs)})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cv:
            self._terminated.add(str(event.runId))
            self._cv.notify_all()

    def wait_all(self, timeout: float = 30.0) -> bool:
        """Listener events arrive asynchronously: wait until every started
        query has reported its termination."""
        with self._cv:
            return self._cv.wait_for(lambda: self._started <= self._terminated, timeout)


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning milliseconds of ``df``'s plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)      # job id -> {time, stages}
    stages: dict = field(default_factory=dict)    # stage id -> {submit, complete, tasks}
    tasks: list = field(default_factory=list)     # (stage id, metrics dict)
    writes: list = field(default_factory=list)    # (time ms, files, bytes)


def _plan_metric_names(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_metric_names(child, out)


def parse_event_log(log_dir: str) -> EventLog:
    """Jobs, stages, tasks and write metrics from an uncompressed event log."""
    log = EventLog()
    metric_names: dict[int, str] = {}
    exec_time: dict[int, int] = {}
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    log.jobs[ev["Job ID"]] = {
                        "time": ev["Submission Time"],
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    log.stages[info["Stage ID"]] = {
                        "submit": info.get("Submission Time", 0),
                        "complete": info.get("Completion Time", 0),
                        "tasks": info["Number of Tasks"],
                    }
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    ti = ev["Task Info"]
                    run = tm.get("Executor Run Time", 0)
                    wall = ti["Finish Time"] - ti["Launch Time"]
                    log.tasks.append((ev["Stage ID"], {
                        "run_ms": run,
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "gc_ms": tm.get("JVM GC Time", 0),
                        "sched_ms": max(0, wall - run
                                        - tm.get("Executor Deserialize Time", 0)
                                        - tm.get("Result Serialization Time", 0)
                                        - ti.get("Getting Result Time", 0)),
                        "shuffle_read": sum(
                            (tm.get("Shuffle Read Metrics") or {}).get(k, 0)
                            for k in ("Remote Bytes Read", "Local Bytes Read")),
                        "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "spill": tm.get("Memory Bytes Spilled", 0)
                                 + tm.get("Disk Bytes Spilled", 0),
                        "failed": bool(ti.get("Failed"))
                                  or ev.get("Task End Reason", {}).get("Reason") != "Success",
                    }))
                elif kind.endswith("SQLExecutionStart"):
                    exec_time[ev["executionId"]] = ev["time"]
                    _plan_metric_names(ev.get("sparkPlanInfo", {}), metric_names)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metric_names(ev.get("sparkPlanInfo", {}), metric_names)
                elif kind.endswith("DriverAccumUpdates"):
                    n_files = n_bytes = 0
                    for acc_id, value in ev.get("accumUpdates", []):
                        name = metric_names.get(acc_id)
                        if name == "number of written files":
                            n_files += value
                        elif name == "written output":
                            n_bytes += value
                    if n_files or n_bytes:
                        log.writes.append(
                            (exec_time.get(ev["executionId"], 0), n_files, n_bytes)
                        )
    return log


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _pass_metrics(tracer: Tracer, p: Span, listener, log: EventLog, nproc: int,
                  input_bytes: int) -> dict:
    ops = [c for c in tracer.children(p) if c.name == "op"]
    layer_spans = [c for o in ops for c in tracer.children(o)]

    def total(name: str) -> float:
        return sum(s.dur for s in layer_spans if s.name == name)

    windows = [(o.wall_start * 1000.0, o.wall_end * 1000.0) for o in ops]

    def in_pass(t_ms: float) -> bool:
        return any(a <= t_ms <= b for a, b in windows)

    # every job submitted while one of the pass's operations was open,
    # including micro-batch jobs that run outside the caller's job group
    jobs = [j for j, info in log.jobs.items() if in_pass(info["time"])]
    stages = {s for j in jobs for s in log.jobs[j]["stages"] if s in log.stages}
    tasks = [m for sid, m in log.tasks if sid in stages]
    stage_wall_ms = sum(log.stages[s]["complete"] - log.stages[s]["submit"] for s in stages)
    run_ms = sum(t["run_ms"] for t in tasks)
    writes = [w for w in log.writes if in_pass(w[0])]
    bytes_written = sum(w[2] for w in writes)
    triggers = [
        t for t in (listener.progress if listener else [])
        if t["name"] and t["name"].rsplit("_", 1)[-1] == p.attrs["label"]
    ]
    stored = p.attrs.get("stored_bytes", 0)
    catalyst = [o.attrs["catalyst"] for o in ops if "catalyst" in o.attrs]
    return {
        "construct.s": (total("construct"), "s"),
        "construct.jobs": (sum(s.attrs.get("jobs", 0) for s in layer_spans
                               if s.name == "construct"), "count"),
        "catalyst.analysis_ms": (sum(c["analysis"] for c in catalyst), "ms"),
        "catalyst.optimization_ms": (sum(c["optimization"] for c in catalyst), "ms"),
        "catalyst.planning_ms": (sum(c["planning"] for c in catalyst), "ms"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (len(stages), "count"),
        "exec.tasks": (len(tasks), "count"),
        "exec.one_task_stage_ratio": (
            sum(log.stages[s]["tasks"] == 1 for s in stages) / len(stages) if stages else 0.0,
            "ratio"),
        "exec.slot_idle_ratio": (
            1.0 - run_ms / (stage_wall_ms * nproc) if stage_wall_ms else 0.0, "ratio"),
        "exec.executor_run_s": (run_ms / 1e3, "s"),
        "exec.executor_cpu_s": (sum(t["cpu_ns"] for t in tasks) / 1e9, "s"),
        "exec.gc_s": (sum(t["gc_ms"] for t in tasks) / 1e3, "s"),
        "exec.scheduler_delay_s": (sum(t["sched_ms"] for t in tasks) / 1e3, "s"),
        "exec.shuffle_read_bytes": (sum(t["shuffle_read"] for t in tasks), "bytes"),
        "exec.shuffle_write_bytes": (sum(t["shuffle_write"] for t in tasks), "bytes"),
        "exec.spill_bytes": (sum(t["spill"] for t in tasks), "bytes"),
        "exec.failed_tasks": (sum(t["failed"] for t in tasks), "count"),
        "action.s": (total("action"), "s"),
        "result.rows": (sum(o.attrs.get("rows", 0) for o in ops), "count"),
        "medallion.run_s": (total("medallion"), "s"),
        "lake.write_s": (total("lake"), "s"),
        "lake.files_written": (sum(w[1] for w in writes), "count"),
        "lake.bytes_written": (bytes_written, "bytes"),
        "lake.write_amp": (bytes_written / stored if stored else 0.0, "ratio"),
        "lake.stored_bytes_ratio": (
            stored / input_bytes if stored else 0.0, "ratio"),
        "jdbc.write_s": (total("jdbc"), "s"),
        "jdbc.rows": (p.attrs.get("jdbc_rows", 0), "count"),
        "stream.triggers": (len(triggers), "count"),
        "stream.trigger_ms": (_median([t.get("triggerExecution", 0) for t in triggers]), "ms"),
        "stream.add_batch_ms": (_median([t.get("addBatch", 0) for t in triggers]), "ms"),
        "stream.query_planning_ms": (_median([t.get("queryPlanning", 0) for t in triggers]), "ms"),
        "stream.wal_commit_ms": (_median([t.get("walCommit", 0) for t in triggers]), "ms"),
        "stream.commit_offsets_ms": (_median([t.get("commitOffsets", 0) for t in triggers]), "ms"),
        "self.pass_s": (tracer.self_time(p), "s"),
        "self.op_s": (sum(tracer.self_time(o) for o in ops), "s"),
    }


def per_layer(tracer: Tracer, timed_passes: list[Span], session: Span, listener,
              log: EventLog, nproc: int, input_bytes: int) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of a traced run: the median over timed passes of
    each per-pass value, plus the one-off session build time."""
    per_pass = [_pass_metrics(tracer, p, listener, log, nproc, input_bytes)
                for p in timed_passes]
    out = {"session.build_s": (session.dur, "s")}
    for name, (_, unit) in per_pass[0].items():
        out[name] = (_median([m[name][0] for m in per_pass]), unit)
    return out
