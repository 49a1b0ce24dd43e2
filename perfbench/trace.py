"""Spans and counts recorded around the benchmark's calls into each layer,
plus the Spark engine's own per-stage record read from the JVM status
store (which works with the UI off).

A span covers one call: for a lazy call (one that returns an unexecuted
DataFrame) that is the driver-side plan construction; for an eager call
(``dense_index``, sink writes, actions) it is the execution itself.
Executor work is assigned to the innermost eager span whose interval
holds the stage's submission time.

Spans are kept in memory and written out when the run ends. With tracing
off the benchmark uses ``Tracer(enabled=False)``, whose spans cost one
attribute check.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    layer: str
    eager: bool
    start: float  # epoch seconds
    end: float
    parent: int | None
    trace_id: str

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.trace_id = ""
        # the crawl commit writes its tables from worker threads: each
        # thread nests its own spans
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str, eager: bool):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(name, layer, eager, time.time(), 0.0,
                  stack[-1] if stack else None, self.trace_id)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            sp.end = time.time()

    def wrap(self, owner: object, attr: str, layer: str, eager: bool) -> None:
        """Record a span around every call of ``owner.attr`` until
        ``unwrap_all``; a no-op when tracing is off."""
        if not self.enabled:
            return
        original = getattr(owner, attr)
        # a function stored on a class is reached through the instance,
        # so the wrapper must stay a plain function there
        raw = owner.__dict__[attr] if isinstance(owner, type) else original

        @functools.wraps(raw)
        def traced(*args, **kwargs):
            with self.span(attr, layer, eager):
                return raw(*args, **kwargs)

        self._restore.append((owner, attr, raw))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._restore:
            owner, attr, raw = self._restore.pop()
            setattr(owner, attr, raw)

    def total(self, layer: str, name: str | None = None) -> tuple[int, float]:
        """(calls, seconds) of the outermost spans of ``layer``: a call the
        layer makes into itself is not counted twice."""
        n, s = 0, 0.0
        for sp in self.spans:
            if sp.layer != layer or (name is not None and sp.name != name):
                continue
            if sp.parent is not None and self.spans[sp.parent].layer == layer:
                continue
            n += 1
            s += sp.seconds
        return n, s

    def owner_of(self, t: float) -> Span | None:
        """The innermost eager span open at epoch time ``t``."""
        best = None
        for sp in self.spans:
            if sp.eager and sp.start <= t <= sp.end:
                if best is None or sp.start >= best.start:
                    best = sp
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp.__dict__) + "\n")


class StatusStore:
    """Stages and jobs of the live SparkContext, one py4j round trip per
    read (the status-store Scala objects are serialized to JSON in the
    JVM)."""

    def __init__(self, spark):
        jvm = spark._jvm
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala.__getattr__("MODULE$")
        )
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._jvm = jvm
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)

    def stages(self) -> list[dict]:
        st = self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False, self._no_quantiles,
            self._jvm.java.util.ArrayList(),
        )
        return json.loads(self._mapper.writeValueAsString(st))

    def jobs(self) -> list[dict]:
        return json.loads(
            self._mapper.writeValueAsString(self._store.jobsList(self._jvm.java.util.ArrayList()))
        )

    def mark(self) -> tuple[int, int]:
        """(max stage id, max job id) so far; ``since`` returns what is newer."""
        s = max((x["stageId"] for x in self.stages()), default=-1)
        j = max((x["jobId"] for x in self.jobs()), default=-1)
        return s, j

    def since(self, mark: tuple[int, int]) -> tuple[list[dict], list[dict]]:
        stages = [
            x for x in self.stages()
            if x["stageId"] > mark[0] and x["status"] == "COMPLETE"
        ]
        jobs = [x for x in self.jobs() if x["jobId"] > mark[1]]
        return stages, jobs


def stage_interval(stage: dict) -> tuple[float, float]:
    """(submission, completion) of a stage in epoch seconds."""
    return stage["submissionTime"] / 1000.0, stage["completionTime"] / 1000.0


def engine_totals(stages: list[dict], jobs: list[dict]) -> dict[str, float]:
    """The Spark engine's per-workload counters over the given stages."""
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["numTasks"] for s in stages),
        "spark.task_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
        "spark.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spark.spill_bytes": sum(
            s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages
        ),
    }


def task_s_by_layer(tracer: Tracer, stages: list[dict], default: str) -> dict[str, float]:
    """Executor task seconds per layer, each stage going to the innermost
    eager span open at its submission (``default`` when none is)."""
    out: dict[str, float] = {}
    for s in stages:
        # Spark truncates the submission time to whole milliseconds: look
        # up the middle of that millisecond, not its start, which can fall
        # just before the span that submitted the stage
        sp = tracer.owner_of((s["submissionTime"] + 0.5) / 1000.0)
        layer = sp.layer if sp else default
        out[layer] = out.get(layer, 0.0) + s["executorRunTime"] / 1000.0
    return out
