"""Tracing for the ``--trace 1`` run.

``Tracer`` wraps the public functions of the package's layer modules from
the outside (the program itself is not edited): every call records a span
(name, start, end, parent) in memory. ``StatusReader`` reads Spark's
in-process status store after each sample and returns per-sample deltas
of SQL executions, jobs, stages and task metrics. Both are inert unless the
benchmark installs them.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import sys
import threading
import time

PKG = "real_estate_project1_etl_spark"

#: the operator modules some workload enters (graph, evalmetrics and
#: clustering are left out: their cheapest queries did not fit the mix)
OPERATOR_MODULES = (
    "cleaning relational dedup similarity textstats quality corpus bloom sketch util"
).split()
#: module whose public functions are wrapped -> the layer its spans count to
MODULE_LAYER = {
    f"{PKG}.session": "session",
    f"{PKG}.sources.csv": "sources",
    f"{PKG}.sources.parquet": "sources",
    f"{PKG}.plans.session_cache": "plans.session_cache",
    f"{PKG}.plans.pipeline": "plans.pipeline",
    f"{PKG}.sinks.writers": "sinks",
    f"{PKG}.streaming.file_pipeline": "streaming",
    **{f"{PKG}.operators.{m}": f"operators.{m}" for m in OPERATOR_MODULES},
}


class Tracer:
    """In-memory span recorder; ``install`` wraps the layer modules'
    public functions so every call records a span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._next = 0
        self.bookkeeping_s = 0.0
        self._patched: list[tuple] = []
        #: span name -> zero-argument callable sampled when the span opens
        #: and closes (stored as ``before``/``after`` on the span)
        self.probes: dict = {}
        self.epoch_offset = time.time() - time.perf_counter()

    # -- spans --------------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> dict:
        t0 = time.perf_counter()
        stack = self._stack()
        self._next += 1
        sp = {"id": self._next, "parent": stack[-1]["id"] if stack else None,
              "name": name, "start": 0.0, "end": 0.0, **attrs}
        stack.append(sp)
        self.spans.append(sp)
        sp["start"] = time.perf_counter()
        self.bookkeeping_s += sp["start"] - t0
        return sp

    def close(self, sp: dict) -> None:
        sp["end"] = t0 = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()
        self.bookkeeping_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sp = self.open(name, **attrs)
        try:
            yield sp
        finally:
            self.close(sp)

    # -- wrapping -----------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            probe = tracer.probes.get(name)
            sp = tracer.open(name)
            if probe:
                sp["before"] = probe()
            try:
                return fn(*args, **kwargs)
            finally:
                if probe:
                    sp["after"] = probe()
                tracer.close(sp)

        wrapper.__perfbench_original__ = fn
        return wrapper

    def install(self, extra_modules=()) -> None:
        """Wrap every public function defined in the layer modules, in every
        loaded module of the package (and ``extra_modules``) that holds a
        reference to it."""
        originals = {}
        for modname, layer in MODULE_LAYER.items():
            mod = importlib.import_module(modname)
            for attr, obj in vars(mod).items():
                if (
                    not attr.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == modname
                ):
                    originals[id(obj)] = (obj, f"{layer}:{attr}")
        wrappers = {k: self._wrap(fn, name) for k, (fn, name) in originals.items()}
        holders = [m for n, m in list(sys.modules.items()) if n.startswith(PKG)]
        holders += list(extra_modules)
        for mod in holders:
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    setattr(mod, attr, w)
                    self._patched.append((mod, attr, obj))

    def uninstall(self) -> None:
        for mod, attr, obj in reversed(self._patched):
            setattr(mod, attr, obj)
        self._patched.clear()

def _newest_first(seq, key, last):
    """Items of a newest-first Scala Seq whose ``key`` exceeds ``last``."""
    it = seq.iterator()
    while it.hasNext():
        item = it.next()
        if key(item) <= last:
            return
        yield item


class StatusReader:
    """Per-sample deltas from Spark's in-process status store (works with
    ``spark.ui.enabled=false``). ``delta()`` returns the work recorded since
    the previous call; it drains the listener bus first, so the store holds
    every event of the sample. Only items newer than the last delta are
    fetched over py4j (the store lists jobs and stages newest first, SQL
    executions oldest first)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        gw = spark.sparkContext._gateway
        self.no_quantiles = gw.new_array(gw.jvm.double, 0)
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.last_exec = self.last_job = self.last_stage = -1
        self.read_s = 0.0
        self.delta()
        self.read_s = 0.0

    def _new_executions(self):
        n = self.sql_store.executionsCount()
        k = 16
        while True:
            window = list(_scala_iter(self.sql_store.executionsList(max(0, n - k), k)))
            if k >= n or (window and window[0].executionId() <= self.last_exec):
                return [e for e in window if e.executionId() > self.last_exec]
            k *= 4

    def delta(self) -> dict:
        t0 = time.perf_counter()
        self.sc.listenerBus().waitUntilEmpty(30_000)
        out = dict.fromkeys((
            "sql_executions", "jobs", "stages", "tasks", "executor_run_s",
            "executor_cpu_s", "gc_s", "input_bytes", "output_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0)
        intervals, stage_starts = [], []
        for e in self._new_executions():
            self.last_exec = max(self.last_exec, e.executionId())
            comp = e.completionTime()
            end = comp.get().getTime() if comp.isDefined() else time.time() * 1e3
            out["sql_executions"] += 1
            intervals.append((e.submissionTime() / 1e3, end / 1e3))
        store = self.sc.statusStore()
        jobs = list(_newest_first(store.jobsList(None), lambda j: j.jobId(), self.last_job))
        out["jobs"] = len(jobs)
        self.last_job = max([j.jobId() for j in jobs] + [self.last_job])
        stages = list(_newest_first(
            store.stageList(None, False, False, self.no_quantiles, None),
            lambda s: s.stageId(), self.last_stage))
        self.last_stage = max([s.stageId() for s in stages] + [self.last_stage])
        for s in stages:
            if str(s.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            tasks = s.numCompleteTasks() + s.numFailedTasks()
            out["tasks"] += tasks
            sub = s.submissionTime()
            if sub.isDefined():
                stage_starts.append((sub.get().getTime() / 1e3, tasks))
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["intervals"] = intervals
        out["stage_starts"] = stage_starts
        self.read_s += time.perf_counter() - t0
        return out


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()
