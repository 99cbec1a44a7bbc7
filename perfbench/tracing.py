"""Spans, job groups and event-log task metrics for the traced run.

Spans are ``{id, name, start, end, parent, run_id}`` records kept in memory
and written out once at the end. Tracing is switched on for one op at a time
(``Tracer.tracing``): only then are the wrappers patched in and Spark's event
log listener attached to the listener bus, so the plain ops of a traced run
pay neither and time the same as an untraced run.

While a span is open its id is the Spark job group of the calling thread, so
every job the span submits from that thread is tagged with the innermost
span. Jobs submitted from other threads (streaming micro-batches run on
their own thread and set their own group) are mapped to the innermost span
open at their submission time.

Task metrics come from Spark's JSON event log, read after the session stops:
the job → stage → task chain gives jobs, executed stages, tasks, executor CPU
and run time and shuffle bytes written per span.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = 0
        self._wrappers: list[tuple[list, str, str]] = []
        self._patched: list[tuple[object, str, object]] = []
        core = self.sc._jsc.sc()
        self._bus = core.listenerBus()
        logger = core.eventLogger()
        self._logger = logger.get() if logger.isDefined() else None
        self._detach_event_log()

    def _detach_event_log(self) -> None:
        if self._logger is not None:
            self._bus.waitUntilEmpty()  # removal drops events still queued
            self.sc._jsc.sc().removeSparkListener(self._logger)

    @contextmanager
    def tracing(self, run_id: int):
        """Trace one op: event log attached, wrappers patched in, spans kept."""
        if self._logger is not None:
            self._bus.addToEventLogQueue(self._logger)
        for modules, attr, label in self._wrappers:
            self._patch(modules, attr, label)
        self.enabled, self.run_id = True, run_id
        try:
            yield
        finally:
            self.enabled = False
            self.unwrap()
            self._detach_event_log()

    def _set_group(self) -> None:
        if self._stack:
            top = self.spans[self._stack[-1]]
            self.sc.setJobGroup(f"pb{top['id']}", top["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans), "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self._set_group()
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    def wrap(self, modules, attr: str, label: str) -> None:
        """While tracing, route ``module.attr`` through a span named ``label``
        in every module that holds a reference to it (patched where it is
        imported)."""
        self._wrappers.append((modules, attr, label))

    def _patch(self, modules, attr: str, label: str) -> None:
        for module in modules:
            orig = getattr(module, attr, None)
            if orig is None:
                continue

            @functools.wraps(orig)
            def traced(*args, __orig=orig, **kwargs):
                with self.span(label):
                    return __orig(*args, **kwargs)

            self._patched.append((module, attr, orig))
            setattr(module, attr, traced)

    def unwrap(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans))

    # -- event log -------------------------------------------------------------
    def attach_event_log(self, log_dir: Path) -> None:
        """Add ``jobs``/``stages``/``tasks``/``cpu_ms``/``run_ms``/``shuffle_mb``
        to every span, inclusive of its child spans."""
        jobs, stage_job, stage_done, tasks = {}, {}, set(), []
        for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
            with open(f) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev["Event"]
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        jobs[ev["Job ID"]] = (props.get("spark.jobGroup.id"), ev["Submission Time"] / 1000)
                        for sid in ev["Stage IDs"]:
                            stage_job.setdefault(sid, ev["Job ID"])
                    elif kind == "SparkListenerStageCompleted":
                        stage_done.add(ev["Stage Info"]["Stage ID"])
                    elif kind == "SparkListenerTaskEnd":
                        m = ev.get("Task Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        tasks.append((ev["Stage ID"], m.get("Executor Run Time", 0),
                                      m.get("Executor CPU Time", 0) / 1e6,
                                      sw.get("Shuffle Bytes Written", 0)))
        for s in self.spans:
            s.update(jobs=0, stages=0, tasks=0, cpu_ms=0.0, run_ms=0.0, shuffle_mb=0.0)
        job_span = {jid: self._owner(group, ts) for jid, (group, ts) in jobs.items()}

        def chain(sid):
            while sid is not None:
                yield self.spans[sid]
                sid = self.spans[sid]["parent"]

        for jid, sid in job_span.items():
            for s in chain(sid):
                s["jobs"] += 1
        for stage in stage_done:
            for s in chain(job_span.get(stage_job.get(stage))):
                s["stages"] += 1
        for stage, run_ms, cpu_ms, shuffle in tasks:
            for s in chain(job_span.get(stage_job.get(stage))):
                s["tasks"] += 1
                s["run_ms"] += run_ms
                s["cpu_ms"] += cpu_ms
                s["shuffle_mb"] += shuffle / 2**20

    def _owner(self, group, ts):
        if group and group.startswith("pb") and group[2:].isdigit():
            return int(group[2:])
        inside = [s for s in self.spans if s["start"] <= ts <= (s["end"] or ts)]
        return max(inside, key=lambda s: s["start"])["id"] if inside else None
