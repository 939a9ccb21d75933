"""In-memory spans for the traced run, with Spark stage counters.

A span is recorded around each call the benchmark makes into an engine
module (the span's *layer* is the module name, e.g. ``operators.llm``).
Spans are sequential in one process, so the stages Spark completes
while a span is the innermost open one belong to that span: when a span
closes, the benchmark drains Spark's listener bus and claims every
stage newer than the last one claimed.  Counters come from the driver's
status store, read through py4j without touching the engine:
``sc.statusStore().stageList(...)``.

Self time of a span is its duration minus the part its child spans
cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Layers the per-layer metrics report, in BENCHMARK.json order.
LAYERS = (
    "session", "sources.io", "cli", "plans.pipeline",
    "operators.anonymize", "operators.dp", "operators.llm", "operators.similarity",
    "operators.relational", "operators.windows", "operators.events", "operators.graph",
)
STAGE_FIELDS = ("tasks", "failed_tasks", "run_s", "shuffle_write_bytes", "spill_bytes",
                "input_bytes", "output_bytes")


@dataclass
class Span:
    layer: str
    name: str
    job: int
    parent: int | None
    start: float
    end: float = 0.0
    covered: float = 0.0  # seconds covered by child spans
    stages: int = 0
    counters: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS, 0))
    attrs: dict = field(default_factory=dict)

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.covered


class StageCounters:
    """Reads completed stages newer than the last read."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._last_id = self._max_stage_id()

    def _stage_list(self):
        jvm = self._sc._jvm
        return self._jsc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )

    def _max_stage_id(self) -> int:
        self._jsc.listenerBus().waitUntilEmpty()
        stages = self._stage_list()
        return stages.apply(0).stageId() if stages.size() else -1

    def take(self) -> tuple[int, dict]:
        """(number of stages, summed counters) completed since the last call.

        The status store lists stages newest first, so the walk stops at
        the first stage already claimed.  Skipped stages are passed over
        but still advance the claim mark."""
        self._jsc.listenerBus().waitUntilEmpty()
        stages = self._stage_list()
        n, acc, newest = 0, dict.fromkeys(STAGE_FIELDS, 0), self._last_id
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_id:
                break
            newest = max(newest, sid)
            if str(s.status()) not in ("COMPLETE", "FAILED"):
                continue
            n += 1
            acc["tasks"] += s.numTasks()
            acc["failed_tasks"] += s.numFailedTasks()
            acc["run_s"] += s.executorRunTime() / 1000.0
            acc["shuffle_write_bytes"] += s.shuffleWriteBytes()
            acc["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            acc["input_bytes"] += s.inputBytes()
            acc["output_bytes"] += s.outputBytes()
        self._last_id = newest
        return n, acc


class Tracer:
    """Collects spans in memory; nothing is written until the run ends."""

    def __init__(self, counters: StageCounters):
        self.counters = counters
        self.spans: list[Span] = []
        self._open: list[int] = []
        self.job = 0

    def _claim_stages(self, span: Span) -> None:
        n, acc = self.counters.take()
        span.stages += n
        for k, v in acc.items():
            span.counters[k] += v

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        if self._open:  # stages so far belong to the parent, not this child
            self._claim_stages(self.spans[self._open[-1]])
        parent = self._open[-1] if self._open else None
        s = Span(layer, name, self.job, parent, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            self._claim_stages(s)
            s.end = time.perf_counter()
            self._open.pop()
            if parent is not None:
                self.spans[parent].covered += s.end - s.start

    def records(self, workload: str) -> list[dict]:
        """Spans as plain dicts: name, start, end, parent, workload, job id
        and the stage-counter deltas claimed by each span."""
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"layer": s.layer, "name": s.name, "workload": workload, "job": s.job,
             "parent": s.parent, "start": s.start - t0, "end": s.end - t0,
             "self_s": s.self_s, "stages": s.stages, **s.counters, **s.attrs}
            for s in self.spans
        ]


def layer_metrics(spans: list[Span], cores: int) -> dict[str, float]:
    """The per-layer metrics of one traced job."""
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        self_s = sum(s.self_s for s in mine)
        stages = sum(s.stages for s in mine)
        tot = {k: sum(s.counters[k] for s in mine) for k in STAGE_FIELDS}
        out[f"{layer}.self_s"] = self_s
        out[f"{layer}.calls"] = len(mine)
        out[f"{layer}.stages"] = stages
        out[f"{layer}.tasks_per_stage"] = tot["tasks"] / stages if stages else 0.0
        out[f"{layer}.busy_frac"] = tot["run_s"] / (self_s * cores) if self_s > 0 else 0.0
        out[f"{layer}.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
        out[f"{layer}.spill_bytes"] = tot["spill_bytes"]
        out[f"{layer}.failed_tasks"] = tot["failed_tasks"]
    return out
