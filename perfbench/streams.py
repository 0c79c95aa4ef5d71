"""Reading Structured Streaming progress from outside the query.

`QueryProgress` reports, per trigger, its start time and the duration
of each phase. The phases run in a fixed order, so the traced run lays
them out back to back as child spans of the trigger span.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

# phase order inside one micro-batch execution
PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
OVERHEAD_PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")


@dataclass
class Trigger:
    batch_id: int
    start: float  # wall seconds
    dur: float
    rows: int
    phases: dict  # phase → seconds

    @property
    def end(self) -> float:
        return self.start + self.dur


def triggers(query) -> list[Trigger]:
    """Non-empty triggers of a query, oldest first (the query keeps the
    last 100 progress updates)."""
    out = []
    for p in query.recentProgress:
        if not p["numInputRows"]:
            continue
        ts = dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        d = p["durationMs"]
        out.append(Trigger(
            int(p["batchId"]), ts, d["triggerExecution"] / 1000.0, int(p["numInputRows"]),
            {k: d[k] / 1000.0 for k in PHASES if k in d},
        ))
    return sorted(out, key=lambda t: t.batch_id)


def trace_trigger(tracer, trig: Trigger, kind: str):
    """Add the trigger span and its phase spans; returns (trigger, addBatch) spans."""
    op = f"trigger-{trig.batch_id}"
    root = tracer.add(kind, trig.start, trig.end, op=op)
    root.attrs["rows"] = trig.rows
    t, add_batch = trig.start, None
    for phase in PHASES:
        if phase in trig.phases:
            span = tracer.add(f"{kind}.{phase}", t, t + trig.phases[phase], root.span_id, op)
            add_batch = span if phase == "addBatch" else add_batch
            t = span.end
    return root, add_batch


def adopt(tracer, trig_spans: list, wrapped: list) -> None:
    """Give each root span of a wrapped engine call, recorded on the stream
    thread without a parent, the addBatch span of the trigger it ran in."""
    for span in wrapped:
        if span.parent is not None or span.op is not None:
            continue
        for root, add_batch in trig_spans:
            if root.start <= span.start <= root.end and add_batch is not None:
                span.parent, span.op = add_batch.span_id, root.op
                break
    by_id = {s.span_id: s for s in tracer.spans}
    for span in wrapped:  # descendants inherit the op
        p = span
        while p.op is None and p.parent is not None:
            p = by_id[p.parent]
        span.op = p.op


def trigger_coverage(tracer, root, add_batch) -> float:
    """Share of a trigger's wall time covered by measured spans: the
    phases the engine reports other than addBatch, plus the wrapped calls
    that ran inside addBatch (its direct children). Whatever part of
    addBatch no wrapped call covers counts as uncovered."""
    from spans import covered_share

    kids = [s for s in tracer.spans if s.parent == root.span_id and s is not add_batch]
    if add_batch is not None:
        kids += [s for s in tracer.spans if s.parent == add_batch.span_id]
    return covered_share(kids, root)
