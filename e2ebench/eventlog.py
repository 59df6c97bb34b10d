"""Fold an uncompressed, unrolled Spark event log into per-span metrics.

Jobs are attributed to the span that was open when they started
through the ``e2ebench.span`` property each span sets; streaming
micro-batch jobs carry their query id and batch id as job properties
too.  Stages and tasks inherit the group of the job that submitted
them.  Only the JSON-lines format that Spark writes with
``spark.eventLog.compress=false`` and
``spark.eventLog.rolling.enabled=false`` is read.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from .trace import SPAN_PROPERTY

# SQL metric names (task accumulables) -> metric key, with the scale
# that turns the accumulated value into seconds or bytes
_ACCUMULABLES = {
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to run Python workers": ("python.run_s", 1e-3),
    "data sent to Python workers": ("python.bytes", 1.0),
    "spill size": ("spill_bytes", 1.0),
}

ENGINE_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "executor.run_s",
    "executor.cpu_s",
    "executor.gc_s",
    "shuffle.read_bytes",
    "shuffle.write_bytes",
    "spill_bytes",
    "python.start_s",
    "python.run_s",
    "python.bytes",
    "task_skew",
    "executor.jvm_stage_s",
    "executor.python_stage_s",
    "python.stages",
    "python.tasks",
)


def _empty() -> dict:
    m = {k: 0.0 for k in ENGINE_METRICS}
    m["_task_ms"] = defaultdict(list)
    return m


def _run_s(m: dict, stage_id: int) -> float:
    return sum(m["_task_ms"].get(stage_id, ())) / 1e3


def fold(path: str) -> tuple[dict[str, dict], dict[tuple[str, int], dict]]:
    """Return ``(by_span, by_batch)``.

    ``by_span`` maps each span id to its engine metrics; jobs outside
    any span fold into ``""``.  ``by_batch`` maps
    ``(query_id, batch_id)`` of streaming micro-batches to the same
    metrics, so a stage-1 batch's task count can be read directly.
    ``task_skew`` is, over the group's stages, the largest ratio of a
    stage's slowest task run time to its median task run time; task run
    time is also split by whether the stage fed Python workers
    (``executor.python_stage_s``, with ``python.stages`` and
    ``python.tasks`` counting those stages and their tasks) or not
    (``executor.jvm_stage_s``).
    """
    stage_owner: dict[int, tuple[str, tuple[str, int] | None]] = {}
    python_stages: set[int] = set()  # stages whose tasks fed Python workers
    by_span: dict[str, dict] = defaultdict(_empty)
    by_batch: dict[tuple[str, int], dict] = defaultdict(_empty)

    def targets(stage_id: int) -> list[dict]:
        group, batch = stage_owner.get(stage_id, ("", None))
        out = [by_span[group]]
        if batch is not None:
            out.append(by_batch[batch])
        return out

    with open(path, encoding="utf-8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get(SPAN_PROPERTY) or ""
                qid = props.get("sql.streaming.queryId")
                bid = props.get("streaming.sql.batchId")
                batch = (qid, int(bid)) if qid is not None and bid is not None else None
                for s in ev.get("Stage IDs", []):
                    stage_owner[s] = (group, batch)
                by_span[group]["spark.jobs"] += 1
                if batch is not None:
                    by_batch[batch]["spark.jobs"] += 1
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                split = "executor.python_stage_s" if sid in python_stages else "executor.jvm_stage_s"
                for m in targets(sid):
                    m["spark.stages"] += 1
                    m[split] += _run_s(m, sid)
                    if sid in python_stages:
                        m["python.stages"] += 1
                        m["python.tasks"] += len(m["_task_ms"].get(sid, ()))
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                if not tm:
                    continue
                sid = ev["Stage ID"]
                sr = tm.get("Shuffle Read Metrics", {})
                sw = tm.get("Shuffle Write Metrics", {})
                for m in targets(sid):
                    m["spark.tasks"] += 1
                    m["executor.run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    m["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    m["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    m["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    m["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    m["_task_ms"][sid].append(tm.get("Executor Run Time", 0))
                # SQL metrics: a task's "Update" is its own share; the
                # "Value" is the running total of the plan node, which
                # counts again when a later job re-runs the node
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if a.get("Name") not in _ACCUMULABLES:
                        continue
                    key, scale = _ACCUMULABLES[a["Name"]]
                    v = float(a.get("Update") or 0)
                    if key == "python.bytes" and v > 0:
                        python_stages.add(sid)
                    for m in targets(sid):
                        m[key] += v * scale

    for m in list(by_span.values()) + list(by_batch.values()):
        skew = 1.0
        for runs in m.pop("_task_ms").values():
            med = statistics.median(runs)
            if len(runs) > 1 and med > 0:
                skew = max(skew, max(runs) / med)
        m["task_skew"] = skew if m["spark.tasks"] else 0.0
    return dict(by_span), dict(by_batch)


def merge(parts) -> dict:
    """Sum engine metrics over several groups (``task_skew`` takes the
    maximum)."""
    out = {k: 0.0 for k in ENGINE_METRICS}
    for m in parts:
        for k in ENGINE_METRICS:
            out[k] = max(out[k], m[k]) if k == "task_skew" else out[k] + m[k]
    return out
