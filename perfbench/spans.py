"""Op timing, spans and outside-in Spark job/task counts.

The benchmark times every call it makes into a ``bun_csv_spark`` layer as
an *op*. Op names are ``<layer>.<what>`` (``csv_reader.native.exec``,
``cli.count``, ``dedup.verify``); the layer is the module the call enters.

Untraced, an op costs two clock reads. Traced, it is also a span (name,
start, end, parent span, pass id) and runs under its own Spark job group,
so the jobs and tasks it started can be read back from the public
``statusTracker`` after the pass. Spans stay in memory until
``Recorder.dump`` writes them out at the end of the run.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Recorder:
    def __init__(self, sc, trace: bool):
        self.sc = sc
        self.trace = trace
        self.ops: list[dict] = []  # one entry per op call: pass, name, s
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = -1

    @contextmanager
    def op(self, name: str):
        """Time one call into a layer; with tracing on, record it as a span
        under the enclosing span and tag its Spark jobs."""
        span = None
        if self.trace:
            span = {
                "id": len(self.spans), "name": name, "pass": self.pass_id,
                "parent": self._stack[-1] if self._stack else None,
                "group": f"perfbench-{self.pass_id}-{len(self.spans)}",
            }
            self.spans.append(span)
            self._stack.append(span["id"])
            self.sc.setJobGroup(span["group"], name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self.ops.append({"pass": self.pass_id, "name": name, "s": t1 - t0})
            if span is not None:
                span["start"], span["end"] = t0, t1
                self._stack.pop()
                if self._stack:
                    parent = self.spans[self._stack[-1]]
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def count_jobs(self, pass_id: int) -> None:
        """Attach ``jobs`` and ``tasks`` to every span of ``pass_id``: the
        jobs its job group ran, read from ``statusTracker`` once the
        listener bus has delivered every event of the pass."""
        if not self.trace:
            return
        # the tracker is fed asynchronously by the listener bus: without the
        # drain (private[spark] in Scala, public to py4j) the last jobs of a
        # pass can be missing, and the counts would not repeat
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for span in self.spans:
            if span["pass"] != pass_id:
                continue
            jobs = tracker.getJobIdsForGroup(span["group"])
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    stage = tracker.getStageInfo(s)
                    tasks += stage.numTasks if stage else 0
            span["jobs"], span["tasks"] = len(jobs), tasks

    def dump(self, path: str, context: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"context": context, "spans": self.spans}, fh)


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it its
    child spans cover, summed by layer."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[layer_of(s["name"])] = out.get(layer_of(s["name"]), 0.0) + (
            s["end"] - s["start"] - covered)
    return out
