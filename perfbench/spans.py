"""Spans around calls into the engine, and Spark's event log read back.

``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
writes them out once, at the end of a run. With tracing off,
``span`` still runs the body but records nothing.

``EventLog`` reads the JSON event log that Spark writes when
``spark.eventLog.enabled`` is set, and sums task metrics per operation.
A task belongs to the operation of its job: the job group set with
``SparkContext.setJobGroup``, or
``stream-<batchId>`` for jobs a streaming micro-batch started.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

#: plan nodes that run Python (Arrow UDFs, pandas map/group functions)
PYTHON_NODE_MARKERS = ("Python", "InPandas", "InArrow")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._next_id = 0
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, parent: Span | None = None):
        """Record the body as a span. Its parent is the innermost open
        span of this thread, or ``parent`` for a span that starts on
        another thread than its cause. Yields the span (None when off)."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else parent
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        s = Span(sid, name, time.perf_counter(), 0.0,
                 parent.id if parent else None,
                 op if op is not None else (parent.op if parent else None))
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the
        part of it its child spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, last = 0.0, s.start
            for c in sorted(children[s.id], key=lambda c: c.start):
                lo, hi = max(c.start, last), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "start_s": round(s.start - t0, 6),
                     "end_s": round(s.end - t0, 6), "parent": s.parent, "op": s.op}
                    for s in sorted(self.spans, key=lambda s: s.start)
                ],
                f,
            )


@dataclass
class OpStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    python_rows: int = 0
    arrow_eval_rows: int = 0
    stage_ids: set = field(default_factory=set)


def event_log_file(log_dir: str, app_id: str) -> str:
    """The plain (uncompressed, non-rolling) event log of one app."""
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    return path


class EventLog:
    def __init__(self, path: str):
        self.ops: dict[str, OpStats] = defaultdict(OpStats)
        stage_op: dict[int, str] = {}
        python_rows_acc: set[int] = set()
        arrow_eval_acc: set[int] = set()
        task_metrics = []
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    op = props.get("spark.jobGroup.id")
                    if "streaming.sql.batchId" in props:
                        op = f"stream-{props['streaming.sql.batchId']}"
                    if op is None:
                        continue
                    st = self.ops[op]
                    st.jobs += 1
                    for sid in e["Stage IDs"]:
                        stage_op[sid] = op
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _python_row_metrics(e["sparkPlanInfo"], python_rows_acc, arrow_eval_acc)
                elif kind == "SparkListenerTaskEnd":
                    task_metrics.append(e)
        for e in task_metrics:
            op = stage_op.get(e["Stage ID"])
            if op is None or e.get("Task Metrics") is None:
                continue
            st = self.ops[op]
            m = e["Task Metrics"]
            st.tasks += 1
            st.stage_ids.add(e["Stage ID"])
            st.run_ms += m.get("Executor Run Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
            st.output_records += m.get("Output Metrics", {}).get("Records Written", 0)
            for acc in e["Task Info"].get("Accumulables", []):
                if acc["ID"] in python_rows_acc:
                    st.python_rows += int(acc.get("Update", 0))
                if acc["ID"] in arrow_eval_acc:
                    st.arrow_eval_rows += int(acc.get("Update", 0))
        for st in self.ops.values():
            st.stages = len(st.stage_ids)

    def select(self, prefix: str) -> list[OpStats]:
        return [st for op, st in self.ops.items() if op.startswith(prefix)]


def _python_row_metrics(node: dict, python_acc: set[int], arrow_eval_acc: set[int]) -> None:
    name = node.get("nodeName", "")
    if any(m in name for m in PYTHON_NODE_MARKERS):
        for m in node.get("metrics", []):
            if m["name"] == "number of output rows":
                python_acc.add(m["accumulatorId"])
                if name.startswith("ArrowEvalPython"):
                    arrow_eval_acc.add(m["accumulatorId"])
    for c in node.get("children", []):
        _python_row_metrics(c, python_acc, arrow_eval_acc)


def total(stats: list[OpStats], attr: str) -> int:
    return sum(getattr(s, attr) for s in stats)


def plan_stats(df) -> dict:
    """Catalyst phase times and shuffle exchanges of ``df``'s own query
    execution (plans it if no action has yet)."""
    from frontpage_spark import plans

    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {"exchanges": plans.count_exchanges(df)}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[f"{phase}_ms"] = got.get().durationMs() if got.isDefined() else 0
    return out
