"""Tracing for the benchmark: spans, counters and streaming progress.

Everything is kept in memory and written out once, when the run ends.
Spans are recorded by the benchmark around its calls into the engine's
public entry points; counters are read only after an execution's timer
has stopped.
"""

from __future__ import annotations

import hashlib
import json
import math
import re
import time
from dataclasses import dataclass, field


def percentile(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values) -> float:
    return percentile(values, 50)


def gmean(values) -> float:
    """Geometric mean of positive samples."""
    if not values:
        raise ValueError("gmean of no samples")
    return math.exp(sum(math.log(v) for v in values) / len(values))


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    exec_id: str | None = None


@dataclass
class Tracer:
    """Nested spans with parent links.  A disabled tracer still times
    its spans (the untraced run needs the durations) but keeps none."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)
    _next: int = 0

    def span(self, name: str, exec_id: str | None = None) -> "_SpanCtx":
        return _SpanCtx(self, name, exec_id)

    def _open(self, name: str, exec_id: str | None) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, name, time.perf_counter(), None, parent.sid if parent else None,
                 exec_id or (parent.exec_id if parent else None))
        self._next += 1
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()
        if self.enabled:
            self.spans.append(s)

    def dump(self) -> list[dict]:
        st = self_times(self.spans)
        return [
            {"id": s.sid, "name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "exec_id": s.exec_id, "self_s": st[s.sid]}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, exec_id: str | None):
        self.tracer, self.name, self.exec_id = tracer, name, exec_id
        self.span: Span | None = None

    def __enter__(self) -> Span:
        self.span = self.tracer._open(self.name, self.exec_id)
        return self.span

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.span)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover
    (overlapping children are merged, so nothing is subtracted twice)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = (s.end - s.start) - covered
    return out


# --- streaming progress ---------------------------------------------------

def parse_progress(progress_json: str) -> dict:
    """One micro-batch record from a ``StreamingQueryProgress`` JSON."""
    p = json.loads(progress_json)
    d = p.get("durationMs", {})
    ops = p.get("stateOperators", [])
    wm = p.get("eventTime", {}).get("watermark")
    return {
        "batch_id": p["batchId"],
        "run_id": p["runId"],
        "input_rows": p.get("numInputRows", 0),
        "sink_rows": p.get("sink", {}).get("numOutputRows", -1),
        "trigger_ms": d.get("triggerExecution", 0),
        "add_batch_ms": d.get("addBatch", 0),
        "query_planning_ms": d.get("queryPlanning", 0),
        "wal_commit_ms": d.get("walCommit", 0),
        "commit_offsets_ms": d.get("commitOffsets", 0),
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "watermark_us": _iso_to_us(wm) if wm else None,
    }


def _iso_to_us(iso: str) -> int:
    from datetime import datetime, timezone

    ts = datetime.strptime(iso.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z")
    return int((ts - datetime(1970, 1, 1, tzinfo=timezone.utc)).total_seconds()) * 1_000_000 + ts.microsecond


def progress_listener(sink: list[str]):
    """A ``StreamingQueryListener`` that appends each progress JSON to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(event.progress.json)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# --- executed-plan counters -----------------------------------------------

_SCAN_NODES = ("FileSourceScanExec", "BatchScanExec", "RowDataSourceScanExec")


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _metrics(node) -> dict[str, int]:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def plan_counters(jplan) -> dict[str, int]:
    """Scan rows, shuffle bytes written and Python-crossing bytes, summed
    over the nodes of an executed physical plan (read after the action)."""
    out = {"scan_rows": 0, "shuffle_bytes": 0, "python_bytes": 0}
    stack = [jplan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        m = _metrics(node)
        if cls.startswith(_SCAN_NODES):
            out["scan_rows"] += m.get("numOutputRows", 0)
        out["shuffle_bytes"] += m.get("shuffleBytesWritten", 0)
        out["python_bytes"] += m.get("pythonDataSent", 0) + m.get("pythonDataReceived", 0)
        # a reused exchange or subquery is a leaf here: its work is
        # counted once, at the node it reuses
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return out


_EXPR_ID = re.compile(r"#\d+L?")
_VOLATILE = re.compile(
    r"(Location: \w+\[[^\]]*\]|file:[^\s,\]]+|plan_id=\d+|\[id=#?\d+\]|sink_[0-9a-f]+"
    # streaming: run and watermark ids, writer objects, batch and state versions, event-time bounds
    r"|[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}|@[0-9a-f]+\b|(?<=epoch: )\d+|(?<=ver = )\d+|(?<=Append, )\d+, \d+)"
)


def plan_fingerprint(plan_text: str) -> str:
    """Hash of an executed plan's text with expression ids, file
    locations and generated ids stripped (for a micro-batch also its
    run ids, batch number and watermark values)."""
    text = _VOLATILE.sub("", _EXPR_ID.sub("#", plan_text))
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def launched_tasks(stage) -> int:
    """Tasks a stage actually ran: completed plus failed.  A skipped stage
    (its map output reused from an earlier job) ran none, though its
    ``numTasks`` still counts the tasks it planned."""
    return stage.numCompletedTasks + stage.numFailedTasks if stage else 0


def group_counts(sc, group: str) -> dict[str, int]:
    """Tasks launched and shuffle bytes written by the stages of one job
    group (statusTracker and the status store)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"tasks": 0, "shuffle_bytes": 0}
    seen = set()
    for jid in tracker.getJobIdsForGroup(group):
        job = tracker.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            if sid in seen:
                continue
            seen.add(sid)
            out["tasks"] += launched_tasks(tracker.getStageInfo(sid))
            out["shuffle_bytes"] += store.lastStageAttempt(sid).shuffleWriteBytes()
    return out


def capture_stream_queries(sink: list) -> None:
    """Append every ``StreamingQuery`` this process starts to ``sink``, so
    the traced run can read a drained query's last executed plan; the
    query itself starts exactly as before."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        sink.append(q)
        return q

    DataStreamWriter.start = recording_start


def stream_last_plan(query):
    """Executed physical plan of a streaming query's last micro-batch."""
    return query._jsq.streamingQuery().lastExecution().executedPlan()
