"""In-memory spans and Spark event-log totals for the traced run.

Spans are recorded only from the benchmark's own files, around each call
into a layer.  ``Tracer`` keeps them in a list and ``dump`` writes them
out once, at exit.  ``NullTracer`` is the untraced run's stand-in: same
interface, records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield None

    def wrap(self, owner, attr: str, name: str) -> None:
        pass


class Tracer(NullTracer):
    """Spans with name, start, end (epoch seconds), parent index and run id."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        inner = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return inner(*args, **kwargs)

        setattr(owner, attr, traced)

    def self_times(self, since: float = 0.0) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's, for
        spans that started at or after ``since`` (epoch seconds)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for s, c in zip(self.spans, child):
            if s["start"] >= since:
                out[s["name"]].append(s["end"] - s["start"] - c)
        return out

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["start"] >= since]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-stage task totals from an uncompressed Spark event log.

    Returns ``{"jobs": [{"id", "group", "submit", "stages"}], "stages":
    {stage_id: {"tasks", "run_s", "gc_s", "shuffle_bytes", "spill_bytes"}}}``
    with ``submit`` in epoch seconds."""
    jobs: list[dict] = []
    stages: dict[int, dict] = defaultdict(
        lambda: {"tasks": 0, "run_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}
    )
    paths = [
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)  # Spark 4 writes one dir per app
        for f in sorted(files)
        if not f.startswith((".", "appstatus"))  # skip checksums and status markers
    ]
    for path in paths:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        {
                            "id": ev["Job ID"],
                            "group": props.get("spark.jobGroup.id"),
                            "submit": ev["Submission Time"] / 1000.0,
                            "stages": list(ev["Stage IDs"]),
                        }
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return {"jobs": jobs, "stages": dict(stages)}


def spark_totals(log: dict, jobs: list[dict]) -> dict[str, float]:
    """Sum the stage/task totals over ``jobs`` (a subset of ``log["jobs"]``)."""
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "run_s": 0.0, "gc_s": 0.0,
           "shuffle_bytes": 0, "spill_bytes": 0}
    for j in jobs:
        for sid in j["stages"]:
            st = log["stages"].get(sid)
            if st is None:  # skipped stage: its output was reused, no tasks ran
                continue
            out["stages"] += 1
            for k in ("tasks", "run_s", "gc_s", "shuffle_bytes", "spill_bytes"):
                out[k] += st[k]
    return out


def jobs_between(log: dict, start: float, end: float) -> list[dict]:
    return [j for j in log["jobs"] if start <= j["submit"] <= end]
