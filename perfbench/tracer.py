"""Per-layer spans for the traced run, recorded from the benchmark's side.

A span is opened around each call the benchmark makes into a layer, and
around the public functions those calls reach in other layers (the probes
below replace a module attribute with a timing wrapper at run time; no file
of the engine is edited). Each span runs its Spark jobs under its own job
group, so the executor counters of a job belong to the innermost span that
caused it. Spans are kept in memory; ``write`` dumps them as JSON.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field
from typing import Optional

COUNTERS = (
    "spark_jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "output_bytes",
)


@dataclass
class Span:
    id: int
    layer: str
    kind: str
    op: int
    parent: Optional[int]
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    """Span recorder. With ``enabled`` false every method is a no-op, so
    the untraced run executes the same benchmark code without job groups."""

    def __init__(self, spark_context, enabled: bool):
        self.sc = spark_context
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op = -1

    @property
    def current_layer(self) -> Optional[str]:
        return self._stack[-1].layer if self._stack else None

    @contextlib.contextmanager
    def span(self, layer: str, kind: str = ""):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), layer, kind, self.op,
                 parent.id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, f"{layer} {kind}".strip())
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def harvest(self) -> None:
        """Attach Spark counters to the spans of the current op. Called after
        every op, before the status store's job retention can drop them."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in self.spans:
            if s.op != self.op or s.counters:
                continue
            c = dict.fromkeys(COUNTERS, 0)
            stages: set = set()
            jobs = tracker.getJobIdsForGroup(s.group)
            c["spark_jobs"] = len(jobs)
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                if info is not None:
                    stages.update(info.stageIds)
            for sid in stages:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — a skipped stage (reused
                    continue       # exchange) has no attempt and ran nothing
                c["tasks"] += sd.numTasks()
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["input_bytes"] += sd.inputBytes()
                c["output_bytes"] += sd.outputBytes()
            s.counters = c

    def self_time(self, s: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        children = sorted((c.start, c.end) for c in self.spans if c.parent == s.id)
        covered, reach = 0.0, s.start
        for a, b in children:
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        return (s.end - s.start) - covered

    def write(self, path: str) -> None:
        rows = [dict(asdict(s), self_s=self.self_time(s)) for s in self.spans]
        with open(path, "w", encoding="utf-8") as f:
            json.dump(rows, f)


def _probe(tracer: Tracer, fn, layer: str, kind: str, absorbed_by: tuple):
    """Wrap ``fn`` in a span unless the innermost open span belongs to a
    layer in ``absorbed_by`` (then the call is that layer's own work)."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if tracer.current_layer in absorbed_by:
            return fn(*args, **kwargs)
        with tracer.span(layer, kind):
            return fn(*args, **kwargs)

    return wrapper


def install_probes(tracer: Tracer) -> None:
    """Time the public entry points that the benchmark reaches indirectly:
    the listing that ``DeltaChain.save`` runs, and the metastore reads and
    writes behind ``save``/``read_dataset``. A listing's own write of its
    listing dataset counts as listing work."""
    from datachain_spark.catalog.metastore import Metastore
    from datachain_spark.sources import storage

    storage.read_storage = _probe(
        tracer, storage.read_storage, "sources.storage", "list",
        ("sources.storage",))
    Metastore.save_dataset = _probe(
        tracer, Metastore.save_dataset, "catalog", "save",
        ("catalog", "sources.storage"))
    Metastore.load_dataset = _probe(
        tracer, Metastore.load_dataset, "catalog", "load",
        ("catalog", "sources.storage"))
