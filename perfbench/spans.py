"""In-memory spans around the benchmark's calls into each layer of the
program, written out when the run ends. Disabled, every hook is a no-op,
so the untraced run that gives the end-to-end metrics pays nothing."""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from datetime import datetime

LAYERS = ("session", "model", "streaming.sources", "streaming.stateful",
          "operators", "plans", "functions")
# Layer of the benchmark's own probe calls: kept in the trace, left out of
# every layer's self time.
PROBE = "probe"


class Tracer:
    """Spans are (id, parent, name, layer, start, end, attrs) in wall-clock
    seconds, so spans rebuilt from the JVM's progress timestamps line up
    with spans timed here."""

    def __init__(self, enabled):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def add(self, name, layer, start, end, parent=None, **attrs):
        """Record a finished span; returns its id (0 when disabled)."""
        if not self.enabled:
            return 0
        with self._lock:
            sid = next(self._ids)
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "layer": layer, "start": start, "end": end,
                               "attrs": attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name, layer, **attrs):
        """Time the enclosed block as a child of the thread's open span."""
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append({"id": sid, "parent": parent, "name": name,
                                   "layer": layer, "start": start,
                                   "end": end, "attrs": attrs})

    def self_times(self):
        """Seconds per layer of LAYERS: each span's duration minus the part
        of its interval that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            covered = 0.0
            reach = s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, reach), min(b, s["end"])
                if b > a:
                    covered += b - a
                    reach = b
            if s["layer"] in out:
                out[s["layer"]] += max(s["end"] - s["start"] - covered, 0.0)
        return out

    def dump(self, path, **header):
        with open(path, "w") as f:
            json.dump({**header, "spans": self.spans}, f)


def trigger_start(progress):
    """Wall-clock start of a micro-batch from its progress event."""
    return datetime.fromisoformat(
        progress["timestamp"].replace("Z", "+00:00")).timestamp()


def rebuild_batch_spans(tracer, progress, query, cores):
    """Micro-batch spans from StreamingQueryListener progress events. The
    trigger phases are laid end to end in the order the micro-batch engine
    runs them, shifted so that addBatch ends when the batch's foreachBatch
    sink span (recorded in the sink itself) ends; that sink span becomes
    the child of the addBatch phase. The state store's update time, summed
    over its tasks, becomes a ``streaming.stateful`` child of the sink span
    from the end of the sink's last child (the encode call, after which the
    sink's write runs the batch): divided by the tasks that can run at
    once (``cores``, or fewer shuffle partitions) and clipped to the sink
    span. ``query`` tags the query's spans."""
    phases = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
              "addBatch", "commitOffsets")
    sinks = {s["attrs"]["batch"]: s for s in tracer.spans
             if s["name"] == "foreachBatch_sink" and s["attrs"]["query"] == query}
    for p in progress:
        dur = {ph: p["durationMs"].get(ph, 0) / 1000.0 for ph in phases}
        start = trigger_start(p)
        sink = sinks.get(p["batchId"])
        if sink is not None:
            upto = sum(dur[ph] for ph in phases[:phases.index("addBatch") + 1])
            start = sink["end"] - upto
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000.0
        bid = tracer.add("micro_batch", "streaming.sources", start, end,
                         query=query, batch=p["batchId"], rows=p["numInputRows"])
        t = start
        for ph in phases:
            pid = tracer.add(ph, "streaming.sources", t, t + dur[ph], parent=bid)
            if ph == "addBatch" and sink is not None:
                sink["parent"] = pid
            t += dur[ph]
        state = (p.get("stateOperators") or [{}])[0]
        if sink is not None and state.get("allUpdatesTimeMs"):
            width = min(cores, state.get("numShufflePartitions") or cores)
            t0 = max([c["end"] for c in tracer.spans if c["parent"] == sink["id"]],
                     default=sink["start"])
            t1 = min(t0 + state["allUpdatesTimeMs"] / 1000.0 / width, sink["end"])
            tracer.add("state_updates", "streaming.stateful", t0, t1,
                       parent=sink["id"], query=query, batch=p["batchId"])
