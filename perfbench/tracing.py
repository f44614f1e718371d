"""Spans around calls into the engine's layers, recorded from outside it.

The traced pass wraps the public functions of each layer for its own
duration only. Every module of the package that bound one of them
(``from ..tables import load_table``) gets the wrapper in its own
namespace, and the originals come back when the pass ends. A span
records its layer, its parent, its wall and the Spark jobs started
while it was open. Job ids come from the DAG scheduler's counter,
which the submitting thread advances before the job runs, so the
count needs no listener-bus round trip. The loop is closed and
single-client, so every job started inside a span belongs to it.
"""

from __future__ import annotations

import importlib
import sys
import time
from contextlib import contextmanager

PACKAGE = "bigdataprojectspring16_spark"

#: Layer name -> (module, function) pairs whose calls it times.
LAYER_FUNCTIONS: dict[str, tuple[tuple[str, str], ...]] = {
    "tables": (
        (f"{PACKAGE}.tables", "load_table"),
        (f"{PACKAGE}.tables", "load_skew_table"),
    ),
    "plans.barriers": ((f"{PACKAGE}.plans.barriers", "barrier"),),
    "sources.sinks": (
        (f"{PACKAGE}.sources.sinks", "write_parquet"),
        (f"{PACKAGE}.sources.sinks", "write_bucketed_table"),
    ),
}


class Tracer:
    """In-memory span recorder; spans nest by call order."""

    def __init__(self, spark):
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def jobs_started(self) -> int:
        return self._dag.numTotalJobs()

    @contextmanager
    def span(self, layer: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
            **attrs,
            "start": time.perf_counter(),
            "first_job": self.jobs_started(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["end_job"] = self.jobs_started()
            rec["s"] = rec["end"] - rec["start"]
            rec["jobs"] = rec["end_job"] - rec["first_job"]
            self._stack.pop()

    @contextmanager
    def instrumented(self):
        """Route every bound reference to a layer function through a span
        for the duration of the block."""
        patches = []
        for layer, targets in LAYER_FUNCTIONS.items():
            for mod_name, fn_name in targets:
                original = getattr(importlib.import_module(mod_name), fn_name)
                wrapper = self._wrap(layer, fn_name, original)
                for mod in list(sys.modules.values()):
                    if (
                        getattr(mod, "__name__", "").startswith(PACKAGE)
                        and getattr(mod, fn_name, None) is original
                    ):
                        patches.append((mod, fn_name, original))
                        setattr(mod, fn_name, wrapper)
        try:
            yield
        finally:
            for mod, fn_name, original in reversed(patches):
                setattr(mod, fn_name, original)

    def _wrap(self, layer, fn_name, original):
        def traced(*args, **kwargs):
            with self.span(layer, fn=fn_name):
                return original(*args, **kwargs)

        traced.__wrapped__ = original
        return traced

    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def descendants(self, span_id: int) -> list[dict]:
        out, todo = [], [span_id]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += [c["id"] for c in kids]
        return out

    def self_s(self, span: dict) -> float:
        """Span wall minus the part its children cover (children of one
        span never overlap: the loop is single-threaded)."""
        return span["s"] - sum(c["s"] for c in self.children(span["id"]))

    def outermost(self, layer: str) -> list[dict]:
        """Spans of ``layer`` not nested in another span of the same layer
        (``load_skew_table`` calls ``load_table``; count the call once)."""
        by_id = {s["id"]: s for s in self.spans}
        out = []
        for s in self.spans:
            if s["layer"] != layer:
                continue
            p = s["parent"]
            while p is not None and by_id[p]["layer"] != layer:
                p = by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning ms of ``df``'s own query
    execution, forcing its physical plan (no job runs for it)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        out[phase] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out


def stage_metrics(spark, first_job: int, end_job: int) -> dict[str, float]:
    """Summed task metrics of the stages that ran for jobs
    ``[first_job, end_job)``, read from Spark's status store after the
    listener bus has drained. Skipped stages (shuffle reuse) are not
    counted: they ran no task. Spill is the bytes written to disk."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stage_ids: set[int] = set()
    for job_id in range(first_job, end_job):
        ids = store.job(job_id).stageIds()
        stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
    totals = dict.fromkeys(
        (
            "stages", "tasks", "failed_tasks", "executor_run_ms", "gc_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        ),
        0,
    )
    for stage_id in sorted(stage_ids):
        st = store.lastStageAttempt(stage_id)
        if st.status().toString() == "SKIPPED":
            continue
        totals["stages"] += 1
        totals["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        totals["failed_tasks"] += st.numFailedTasks()
        totals["executor_run_ms"] += st.executorRunTime()
        totals["gc_ms"] += st.jvmGcTime()
        totals["shuffle_read_bytes"] += st.shuffleReadBytes()
        totals["shuffle_write_bytes"] += st.shuffleWriteBytes()
        totals["spill_bytes"] += st.diskBytesSpilled()
    return totals
