"""In-memory span tracer with Spark engine counts per span.

A span has a name, start, end, parent and the run's trace id. Each span
sets its own Spark job group while it is open, so after the run the jobs
it launched (and, through them, their stages) are read back from Spark's
status store, which is populated whether or not the UI is enabled. A
span's Spark counts cover its own job group and those of its descendants.

Spans are recorded only from the benchmark's files, around calls into the
program's layers; ``wrap_attr`` adds a span around a module attribute
(for example the skew probe, which every call site imports at call time).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import time
import uuid

SPARK_COUNTS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s",
    "executor_cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
    "spill_mb", "input_mb", "output_mb", "task_skew",
)
_MB = 1024.0 * 1024.0


def duration(span: dict) -> float:
    return span["end"] - span["start"]


class NullTracer:
    """Tracing off: spans cost one context-manager entry."""

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield attrs


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "name": name, "span_id": len(self.spans),
            "parent": parent["span_id"] if parent else None,
            "trace_id": self.trace_id,
            "group": f"bench-{self.trace_id}-{len(self.spans)}",
            "attrs": attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.time()
        try:
            yield attrs
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    # --------------------------------------------------------- read back
    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["span_id"]]

    def _subtree_groups(self, span: dict) -> set:
        out, todo = set(), [span]
        while todo:
            s = todo.pop()
            out.add(s["group"])
            todo.extend(self.children(s))
        return out

    def attach_spark_counts(self) -> None:
        """Read jobs and stages from the status store once and attach
        ``spark`` counts to every span."""
        sc = self.sc
        store = sc._jsc.sc().statusStore()
        jobs_by_group: dict[str, list] = {}
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            g = j.jobGroup()
            if g.isDefined():
                sids = j.stageIds()
                jobs_by_group.setdefault(g.get(), []).append(
                    [sids.apply(k) for k in range(sids.size())])
        gw = sc._gateway
        stages: dict[int, dict] = {}
        sl = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for i in range(sl.size()):
            s = sl.apply(i)
            st = stages.setdefault(s.stageId(), {
                "tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0,
                "executor_cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0,
                "shuffle_read_mb": 0.0, "spill_mb": 0.0, "input_mb": 0.0,
                "output_mb": 0.0, "attempt": s.attemptId(),
            })
            st["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            st["failed_tasks"] += s.numFailedTasks()
            st["executor_run_s"] += s.executorRunTime() / 1e3
            st["executor_cpu_s"] += s.executorCpuTime() / 1e9
            st["gc_s"] += s.jvmGcTime() / 1e3
            st["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            st["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            st["spill_mb"] += s.diskBytesSpilled() / _MB
            st["input_mb"] += s.inputBytes() / _MB
            st["output_mb"] += s.outputBytes() / _MB
        quantiles = gw.new_array(gw.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        for sp in self.spans:
            job_stages = [js for g in self._subtree_groups(sp)
                          for js in jobs_by_group.get(g, [])]
            ids = {sid for js in job_stages for sid in js if sid in stages}
            agg = {k: 0.0 for k in SPARK_COUNTS}
            agg["jobs"] = len(job_stages)
            agg["stages"] = len(ids)
            for sid in ids:
                for k, v in stages[sid].items():
                    if k != "attempt":
                        agg[k] += v
            if ids:
                top = max(ids, key=lambda sid: stages[sid]["executor_run_s"])
                summ = store.taskSummary(top, stages[top]["attempt"], quantiles)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    agg["task_skew"] = mx / med if med > 0 else 1.0
            sp["spark"] = agg

    def to_json(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.spans, **extra},
                      f, indent=1, default=str)


def resolve(modpath: str, name: str):
    """``module.name`` or None when a later version of the program no
    longer has it (the layer then reports zero)."""
    try:
        return getattr(importlib.import_module(modpath), name, None)
    except ImportError:
        return None


@contextlib.contextmanager
def wrap_attr(tracer, modpath: str, name: str, span_name: str, on_call=None):
    """Replace ``modpath.name`` by a wrapper that opens a span around each
    call (``on_call(args, result, span_attrs)`` may record more); restore
    it on exit. No-op when the attribute does not exist."""
    fn = resolve(modpath, name)
    if fn is None:
        yield
        return
    mod = importlib.import_module(modpath)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(span_name) as attrs:
            out = fn(*args, **kwargs)
            if on_call is not None:
                on_call(args, out, attrs)
            return out

    setattr(mod, name, wrapper)
    try:
        yield
    finally:
        setattr(mod, name, fn)
