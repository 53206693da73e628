"""Spans recorded from outside the engine, and Spark event-log parsing.

``Tracer`` wraps the layers' public functions in place and records
one span per call: name, start, end, parent and the group (request or
ingest step) it belongs to.  Spans stay in memory until ``dump``.
``parse_event_log`` reads a non-rolling, uncompressed Spark event log
into one record per job, keyed by job group or by the streaming query
and batch the job ran for.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count()
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str, group: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        group = group or (parent[1] if parent else None)
        stack.append((sid, group))
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.spans.append(
                {
                    "id": sid,
                    "parent": parent[0] if parent else None,
                    "name": name,
                    "group": group,
                    "start": start,
                    "end": time.time(),
                }
            )

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def patch_everywhere(self, module, attr: str, name: str) -> None:
        """Patch ``module.attr`` and every alias of it that a module of
        the same package imported by name."""
        original = getattr(module, attr)
        package = module.__name__.split(".")[0]
        for mod in list(sys.modules.values()):
            if (
                mod is not None
                and mod.__name__.split(".")[0] == package
                and getattr(mod, attr, None) is original
            ):
                self.patch(mod, attr, name)

    def unpatch(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), fh)


JOB_FIELDS = (
    "stages",
    "tasks",
    "task_run_ms",
    "task_cpu_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_ms",
)


def parse_event_log(path: str) -> list[dict]:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                batch = props.get("streaming.sql.batchId")
                job = {
                    "job": ev["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "query_id": props.get("sql.streaming.queryId"),
                    "batch": int(batch) if batch is not None else None,
                    "submit": ev["Submission Time"] / 1000.0,
                }
                job.update(dict.fromkeys(JOB_FIELDS, 0))
                jobs[ev["Job ID"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid is not None:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                job = jobs[jid]
                m = ev.get("Task Metrics") or {}
                rd = m.get("Shuffle Read Metrics") or {}
                wr = m.get("Shuffle Write Metrics") or {}
                job["tasks"] += 1
                job["task_run_ms"] += m.get("Executor Run Time", 0)
                job["task_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                job["gc_ms"] += m.get("JVM GC Time", 0)
                job["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                job["shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return list(jobs.values())
