"""Benchmark-side tracing: spans around each call into a layer, and a
streaming-progress listener.  Spans stay in memory and are written out
with the run's detail record at the end."""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    workload: str
    start: float
    end: float = field(default=0.0)

    @property
    def duration(self) -> float:
        return self.end - self.start


SPAN_PROPERTY = "e2ebench.span"


class Tracer:
    """Times spans; when ``enabled`` it also records them and tags every
    Spark job started inside a span with the span id, as job group and
    as the local property ``SPAN_PROPERTY``.  A streaming query started
    inside a span runs its micro-batches under its own job group, but
    its thread inherits the local properties, so its jobs carry the
    span id too."""

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(f"s{next(self._ids)}", name, parent.id if parent else None, self.workload, time.perf_counter())
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(sp.id, name)
            sc.setLocalProperty(SPAN_PROPERTY, sp.id)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(sp)
                sc.setLocalProperty("spark.jobGroup.id", parent.id if parent else None)
                sc.setLocalProperty(SPAN_PROPERTY, parent.id if parent else None)

    def descendants(self, root: Span) -> set[str]:
        ids = {root.id}
        for sp in sorted(self.spans, key=lambda s: s.start):
            if sp.parent in ids:
                ids.add(sp.id)
        return ids

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)


class ProgressListener(StreamingQueryListener):
    """Collects the progress record of every micro-batch (``durationMs``
    phases, ``stateOperators``, input rows) by query id and batch id."""

    def __init__(self):
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        rec = {
            "id": p["id"],
            "batchId": p["batchId"],
            "durationMs": p.get("durationMs", {}),
            "numInputRows": p.get("numInputRows", 0),
            "stateOperators": p.get("stateOperators", []),
            "source": p["sources"][0]["description"] if p.get("sources") else "",
        }
        with self._lock:
            self._events.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def clear(self) -> None:
        with self._lock:
            self._events.clear()

    def wait_for(self, n: int, timeout: float = 20.0) -> list[dict]:
        """Progress events arrive on the listener bus after the query
        returns; wait until ``n`` have arrived (or ``timeout``)."""
        deadline = time.monotonic() + timeout
        while True:
            with self._lock:
                if len(self._events) >= n or time.monotonic() > deadline:
                    return list(self._events)
            time.sleep(0.02)
