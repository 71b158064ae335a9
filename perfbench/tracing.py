"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id). Spans are recorded around the
public calls each workload makes into the program's layers by wrapping those
callables for the duration of the traced run (``Tracer.wrap``); nothing in the
program itself is changed. Spans stay in memory and are written out once, when
the run ends. A span's self time is its duration minus the part of it that its
child spans cover.

Spark-side counts come from Spark's own public surfaces: a
``StreamingQueryListener`` for micro-batch progress, ``statusTracker`` for job,
stage and task counts, and the JVM's garbage-collector management beans.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import uuid
from dataclasses import asdict, dataclass
from datetime import datetime


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str
    thread: str


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        # start of the timed region of the traced pass (see mark_timed)
        self.t_timed = 0.0
        self.t_timed_epoch = 0.0
        self.on_mark = None

    # -- recording -------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _SpanCtx(self, name)

    def mark_timed(self) -> None:
        """Called by a workload where its timed region starts: span totals,
        streaming progress and Spark counters of the per-layer metrics cover
        only what follows, not the warm-ups before it."""
        self.t_timed = time.perf_counter()
        self.t_timed_epoch = time.time()
        if self.on_mark is not None:
            self.on_mark()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a function or a method) with a
        span-recording wrapper until :meth:`unwrap_all`."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._restore.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # -- analysis --------------------------------------------------------
    def by_name(self, name: str, timed: bool = True) -> list[Span]:
        since = self.t_timed if timed else float("-inf")
        return [s for s in self.spans if s.name == name and s.start >= since]

    def total(self, name: str, timed: bool = True) -> float:
        return sum(s.end - s.start for s in self.by_name(name, timed))

    def count(self, name: str, timed: bool = True) -> int:
        return len(self.by_name(name, timed))

    def self_time(self, name: str, timed: bool = True) -> float:
        """Sum over spans called ``name`` of duration minus the union of
        their children's intervals. ``timed`` keeps only spans that start in
        the timed region."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        total = 0.0
        for s in self.by_name(name, timed):
            covered, cur_end = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            total += (s.end - s.start) - covered
        return total

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        st = self.t._stack()
        self.parent = st[-1] if st else None
        self.id = next(self.t._ids)
        st.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.t._stack().pop()
        with self.t._lock:
            self.t.spans.append(
                Span(self.id, self.name, self.start, end, self.parent,
                     self.t.run_id, threading.current_thread().name)
            )
        return False


def _epoch(iso: str) -> float:
    """Seconds since the epoch of a progress event's trigger timestamp."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def progress_listener(spark):
    """Register a StreamingQueryListener that keeps every progress event as
    a dict; returns (listener, events)."""
    from pyspark.sql.streaming import StreamingQueryListener

    events: list[dict] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            events.append({
                "id": str(p.id),
                "epoch": _epoch(p.timestamp),
                "batch": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "sources": [
                    {"start": s.startOffset, "end": s.endOffset,
                     "rows": s.numInputRows}
                    for s in p.sources
                ],
                "sink_rows": p.sink.numOutputRows if p.sink else -1,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener, events


class SparkCounters:
    """Job/stage/task counts (Spark's application status store — the data
    behind ``statusTracker``, including jobs of streaming queries, which run
    under their own job groups) and JVM GC time (garbage-collector management
    beans), read as differences between two snapshots."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm

    def snapshot(self) -> dict:
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        by_job = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            by_job[j.jobId()] = (j.stageIds().size(), j.numTasks())
        gc_ms = 0
        for bean in self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans():
            gc_ms += max(0, bean.getCollectionTime())
        return {"jobs": by_job, "gc_s": gc_ms / 1000.0}

    @staticmethod
    def diff(a: dict, b: dict) -> dict:
        new = [v for jid, v in b["jobs"].items() if jid not in a["jobs"]]
        return {
            "jobs": len(new),
            "stages": sum(s for s, _ in new),
            "tasks": sum(t for _, t in new),
            "gc_s": b["gc_s"] - a["gc_s"],
        }
