"""In-memory spans and the timing proxies of a traced run.

Spans are recorded from the benchmark's own files, around calls into the
engine's public entry points; nothing inside the engine is changed. They
stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None
    attrs: dict


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, rid: str | None = None, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if rid is None and parent is not None:
            rid = self.spans[parent].rid
        sp = Span(name, time.perf_counter(), 0.0, parent, rid, attrs)
        with self._lock:
            self.spans.append(sp)
            idx = len(self.spans) - 1
        stack.append(idx)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a proxy that records a span per call."""
        orig = getattr(owner, attr)

        def proxy(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, proxy)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self, name: str) -> list[float]:
        """Span durations minus the time their direct children cover."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        return [s.end - s.start - child.get(i, 0.0)
                for i, s in enumerate(self.spans) if s.name == name]

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([
                {"name": s.name, "start": s.start, "end": s.end,
                 "parent": s.parent, "rid": s.rid, **s.attrs}
                for s in self.spans
            ], fh)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    rows = 0
    for root, _, files in os.walk(path):
        rows += sum(pq.read_metadata(os.path.join(root, f)).num_rows
                    for f in files if f.endswith(".parquet"))
    return rows


def job_ids(sc, groups) -> set:
    tracker = sc.statusTracker()
    out: set = set()
    for g in groups:
        out.update(tracker.getJobIdsForGroup(g))
    return out


def task_count(sc, jobs) -> int:
    tracker = sc.statusTracker()
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for sid in (info.stageIds if info else ()):
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return tasks


class SinkProbe:
    """Timing proxy on a mirror sink's ``apply_batch``: per committed
    batch it records the call time, the manifest diff (buckets touched,
    new commit dir size and row count), the events the batch carried
    (offsets are consecutive, so the high-water-mark delta) and the
    Spark jobs it ran."""

    def __init__(self, tracer: Tracer, sink, sc):
        self.tracer = tracer
        self.sink = sink
        self.sc = sc
        self.phase = "setup"
        self.groups: list = [None]
        self.batches: list[dict] = []
        orig = sink.apply_batch

        def apply_batch(batch, batch_id, writer_id=None):
            before = sink.latest_manifest()
            jobs0 = job_ids(sc, self.groups)
            with tracer.span("streaming.apply.apply_batch", batch_id=batch_id) as sp:
                orig(batch, batch_id, writer_id=writer_id)
            self._record(before, sink.latest_manifest(), sp,
                         len(job_ids(sc, self.groups) - jobs0))

        sink.apply_batch = apply_batch

    def _record(self, before, after, sp, jobs) -> None:
        if after is None or (before and after["version"] == before["version"]):
            return  # replayed batch: nothing committed
        old = before["buckets"] if before else {}
        new = after["buckets"]
        touched = {b for b in set(old) | set(new) if old.get(b) != new.get(b)}
        commits = set(new.values()) - set(old.values())
        data = os.path.join(self.sink.path, "data")
        seq0 = (before or {}).get("max_seq", {}).get("offset", 0) or 0
        events = after["max_seq"]["offset"] - max(seq0, 0)
        self.batches.append({
            "phase": self.phase,
            "apply_s": sp.end - sp.start,
            "touched": len(touched),
            "bytes": sum(dir_bytes(os.path.join(data, c)) for c in commits),
            "rows": sum(parquet_rows(os.path.join(data, c)) for c in commits),
            "events": events,
            "jobs": jobs,
        })

    def layout(self) -> dict:
        """Version history and space use of the mirror as it stands."""
        manifest = self.sink.latest_manifest()
        data = os.path.join(self.sink.path, "data")
        live_dirs = sorted(set(manifest["buckets"].values()))
        live = sum(dir_bytes(os.path.join(data, c, f"_bucket={b}"))
                   for b, c in manifest["buckets"].items())
        return {
            "manifest_versions": len(os.listdir(os.path.join(self.sink.path, "_commits"))),
            "live_commit_dirs": len(live_dirs),
            "space_amplification": dir_bytes(data) / live if live else 0.0,
        }
