"""In-memory spans around the calls the benchmark makes into each layer.

A traced run records this span tree; each query execution is one trace id::

    run
    └── pass ...
        └── query ...
            ├── build              queries.queries()[name](spark, sf_dir)
            │   ├── load           every queries.load call the builder makes
            │   ├── cut_lineage    every operators.cut_lineage call
            │   └── stage ...      Spark stages of the jobs the builder ran eagerly
            ├── plan               df._jdf.queryExecution().executedPlan()
            │   └── stage ...
            └── exec               the noop write
                └── stage ...

Spark stages come from the application status store (the data behind the
Spark UI, which the store keeps even with the UI off) with their own
submission and completion times. Each phase runs under its own job group,
which is how a stage is attributed to the phase that started it.
"""

from __future__ import annotations

import functools
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    trace_id: str
    parent: int | None  # index into Tracer.spans
    start: float  # epoch seconds
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)


class Tracer:
    """Records spans while ``active``; otherwise the wrappers it installs only forward."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.active = False
        self._stack: list[int] = []

    def begin(self, name: str, trace_id: str | None = None) -> int:
        parent = self._stack[-1] if self._stack else None
        tid = trace_id or (self.spans[parent].trace_id if parent is not None else "")
        self.spans.append(Span(name, tid, parent, time.time()))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> None:
        if not self._stack or self._stack[-1] != idx:
            raise RuntimeError("spans must nest")
        self._stack.pop()
        self.spans[idx].end = time.time()

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        idx = self.begin(name, trace_id)
        try:
            yield idx
        finally:
            self.end(idx)

    def add(self, name: str, parent: int, start: float, end: float, **counts: float) -> None:
        self.spans.append(Span(name, self.spans[parent].trace_id, parent, start, end, dict(counts)))

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def to_json(self) -> list[dict]:
        """Every span with its self time: its duration minus the part its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered = union_length(
                [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(i, [])]
            )
            out.append({
                "name": s.name,
                "trace_id": s.trace_id,
                "parent": s.parent,
                "start": s.start,
                "duration_s": s.end - s.start,
                "self_s": (s.end - s.start) - covered,
                "counts": s.counts,
            })
        return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def instrument(tracer: Tracer, queries_mod, operators_mod) -> None:
    """Route every module's binding of ``queries.load`` and ``operators.cut_lineage`` through spans.

    Query modules import these names with ``from ... import``, so each
    importing module holds its own reference; all of them are replaced.
    """
    targets = {
        "load": (queries_mod.load, tracer.wrap(queries_mod.load, "load")),
        "cut_lineage": (operators_mod.cut_lineage, tracer.wrap(operators_mod.cut_lineage, "cut_lineage")),
    }
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("spark_query_engine"):
            continue
        for attr, (orig, wrapped) in targets.items():
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)


# Physical-plan node names, as the first word of each line of the plan text.
_NODE = re.compile(r"^[\s:|+\-*]*(?:\(\d+\)\s*)?([A-Za-z][A-Za-z0-9]*)")
_PYTHON_NODE = re.compile(r"Python|Pandas|^MapInArrow$|^FlatMap\w*InArrow$")


def plan_counts(plan_text: str) -> tuple[int, int]:
    """(Exchange nodes, Python evaluation nodes) in a physical plan's text.

    ``ReusedExchange`` reads an exchange counted elsewhere, so it is not counted.
    """
    exchanges = python_nodes = 0
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        name = m.group(1)
        if name in ("Exchange", "BroadcastExchange", "ShuffleExchange"):
            exchanges += 1
        elif _PYTHON_NODE.search(name):
            python_nodes += 1
    return exchanges, python_nodes


@dataclass
class StageStats:
    start: float
    end: float
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    spill_b: int


class SparkStatus:
    """Stages of the jobs in a job group, read from the application status store."""

    def __init__(self, sc) -> None:
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = sc.statusTracker()
        self._no_list = sc._jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def settle(self) -> None:
        """Wait until the status store has seen every event of finished jobs."""
        self._jsc.listenerBus().waitUntilEmpty()

    def jobs(self, group: str) -> list[int]:
        return sorted(self._tracker.getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> list[StageStats]:
        """Every stage attempt that ran for these jobs; skipped stages are left out."""
        seen: set[int] = set()
        out = []
        for jid in job_ids:
            stage_ids = self._store.job(jid).stageIds()
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = self._store.stageData(sid, False, self._no_list, False, self._no_quantiles)
                for k in range(attempts.size()):
                    s = attempts.apply(k)
                    if s.status().toString() in ("SKIPPED", "PENDING") or s.submissionTime().isEmpty():
                        continue
                    submitted = s.submissionTime().get().getTime() / 1000
                    done = s.completionTime()
                    out.append(
                        StageStats(
                            start=submitted,
                            end=done.get().getTime() / 1000 if done.isDefined() else time.time(),
                            tasks=s.numCompleteTasks() + s.numFailedTasks(),
                            failed_tasks=s.numFailedTasks(),
                            run_s=s.executorRunTime() / 1e3,
                            cpu_s=s.executorCpuTime() / 1e9,
                            gc_s=s.jvmGcTime() / 1e3,
                            shuffle_write_b=s.shuffleWriteBytes(),
                            spill_b=s.diskBytesSpilled(),
                        )
                    )
        return out
