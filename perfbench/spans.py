"""In-memory spans around the calls the benchmark makes into each layer,
plus per-op Spark counters read from the driver's status store.

Spans are recorded only in a traced run; an untraced run uses
:class:`NoTrace`, whose ``span`` does nothing, so end-to-end numbers carry
no tracing cost. Spans are kept in a list and written out when the run
ends.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index of the enclosing span, None for an op root
    op: str  # op id shared by every span of one op
    jobs: int = 0  # Spark jobs started inside the span
    attrs: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cursor = 0.0, s.start
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, cursor), min(b, s.end)
            if b > a:
                covered += b - a
                cursor = b
        out.append((s.end - s.start) - covered)
    return out


class NoTrace:
    """Tracing off: spans and counters cost nothing."""

    enabled = False

    @contextlib.contextmanager
    def op(self, op_id: str):
        yield {}

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs


class Tracer(NoTrace):
    """Tracing on: records nested spans and Spark job counts per span."""

    enabled = True

    def __init__(self, spark_getter):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = "setup"
        self._spark = spark_getter

    def next_job(self) -> int:
        spark = self._spark()
        if spark is None:  # input staging runs before the first session
            return 0
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    @contextlib.contextmanager
    def op(self, op_id: str):
        self._op = op_id
        with self.span("op") as attrs:
            yield attrs

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        job0 = self.next_job()
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self._op, 0, attrs))
        self._stack.append(idx)
        try:
            yield attrs
        finally:
            self._stack.pop()
            s = self.spans[idx]
            s.end = time.perf_counter()
            s.jobs = self.next_job() - job0

    def op_counters(self, first_job: int, end_job: int) -> dict:
        """Status-store totals over the jobs ``first_job`` .. ``end_job - 1``."""
        sc = self._spark().sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        c = dict.fromkeys(STAGE_FIELDS, 0)
        c["jobs"] = end_job - first_job
        c["execute_s"] = 0.0
        for job_id in range(first_job, end_job):
            job = store.job(job_id)
            submitted, completed = job.submissionTime(), job.completionTime()
            if submitted.isDefined() and completed.isDefined():
                c["execute_s"] += (completed.get().getTime() - submitted.get().getTime()) / 1e3
            for stage_id in map(int, re.findall(r"\d+", job.stageIds().toString())):
                stage = store.lastStageAttempt(stage_id)
                if stage.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                c["stages"] += 1
                for key, getter in STAGE_FIELDS.items():
                    if getter:
                        c[key] += getter(stage)
        return c

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


#: per-stage status-store fields summed into an op's counters
STAGE_FIELDS = {
    "stages": None,
    "tasks": lambda s: s.numCompleteTasks(),
    "task_run_ms": lambda s: s.executorRunTime(),
    "task_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(),
    "input_bytes": lambda s: s.inputBytes(),
    "output_bytes": lambda s: s.outputBytes(),
}
