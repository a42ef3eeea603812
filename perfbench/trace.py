"""Spans around the calls into each layer, recorded from benchmark code.

Nothing under ``omop_etl_spark/`` is edited: :meth:`Tracer.wrap`
replaces a public function or method with a wrapper for the length of a
traced run and :meth:`Tracer.unwrap_all` puts the original back. Each
span records its name, layer, start, end, parent and pass id, and sets
a Spark job group unique to the span, so jobs, stages and tasks in the
event log can be attributed to the span that caused them. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

JOB_GROUP_PREFIX = "pb-span-"


class Tracer:
    """Span recorder. A disabled tracer records nothing and sets no job
    groups, so untraced passes run the same benchmark code."""

    def __init__(self, spark=None, enabled: bool = True):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if self.spark is None:
            return
        gid = JOB_GROUP_PREFIX + str(span["id"]) if span else None
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", gid)

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer,
            "parent": parent["id"] if parent else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, owner, attr: str, name: str, layer: str, after=None) -> None:
        """Replace ``owner.attr`` with a spanned call; ``after(span,
        result, args)`` may annotate the span before it closes."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name, layer) as s:
                result = original(*args, **kwargs)
                if after is not None:
                    after(s, result, args)
                return result

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    # -- reduction --------------------------------------------------------------

    def pass_ids(self) -> list[int]:
        return [s["pass"] for s in self.spans if s["name"] == "pass" and s["end"] is not None]

    def closed(self, pass_ids=None) -> list[dict]:
        return [
            s for s in self.spans
            if s["end"] is not None and (pass_ids is None or s["pass"] in pass_ids)
        ]

    @staticmethod
    def self_times(spans: list[dict]) -> dict[int, float]:
        """Span id -> its duration minus the time its children cover."""
        child_time: dict[int, float] = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in spans}

    def layer_self_s(self, pass_ids) -> dict[str, float]:
        spans = self.closed(pass_ids)
        st = self.self_times(spans)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["layer"]] += st[s["id"]]
        return dict(out)

    def total_s(self, name: str, pass_ids, **match) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.closed(pass_ids)
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        )


# -- Catalyst ------------------------------------------------------------------


def catalyst_phases_ms(df) -> dict[str, float]:
    """Plan ``df`` fully (optimization + physical planning run now, if
    they have not already) and return the duration of each phase its
    ``QueryExecution`` tracker recorded."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def executed_plan_text(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# -- event log -----------------------------------------------------------------

_EXEC_KEYS = (
    "stages",
    "tasks",
    "task_cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


def zero_exec() -> dict[str, float]:
    return {k: 0.0 for k in _EXEC_KEYS} | {"jobs": 0.0}


def _events(files: list[Path]):
    for path in files:
        with open(path) as f:
            for line in f:
                if line.endswith("\n"):  # a torn last line is still being written
                    yield json.loads(line)


def event_log_by_group(files: list[Path]) -> dict[str | None, dict[str, float]]:
    """Job, stage and task totals per Spark job group, read from the
    uncompressed event-log files of one application, in order. A stage
    counts toward the group of the latest job that listed it."""
    stage_group: dict[int, str | None] = {}
    totals: dict[str | None, dict[str, float]] = defaultdict(zero_exec)
    for ev in _events(files):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            totals[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            totals[stage_group.get(sid)]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            t = totals[stage_group.get(ev.get("Stage ID"))]
            m = ev.get("Task Metrics") or {}
            t["tasks"] += 1
            t["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            sw = m.get("Shuffle Write Metrics") or {}
            t["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return dict(totals)


def span_of_group(group: str | None) -> int | None:
    if group and group.startswith(JOB_GROUP_PREFIX):
        return int(group[len(JOB_GROUP_PREFIX):])
    return None


# -- streaming -----------------------------------------------------------------


def streaming_listener(spark):
    """Register a ``StreamingQueryListener`` that keeps every progress
    event's batch count, trigger time and state-store size; returns
    ``(listener, records)``."""
    from pyspark.sql.streaming import StreamingQueryListener

    records: list[dict] = []

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            records.append({
                "t": time.perf_counter(),
                "trigger_ms": float((p.durationMs or {}).get("triggerExecution", 0)),
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_mem_bytes": sum(o.memoryUsedBytes for o in ops),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = _Listener()
    spark.streams.addListener(listener)
    return listener, records
