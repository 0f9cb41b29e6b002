"""Outside-in tracing: spans around calls into the package's public
functions, one Spark job group per benchmark call, and stage metrics read
back from Spark's own status store.

Nothing here edits the package.  :meth:`Tracer.install` replaces selected
public functions with timing wrappers (and rebinds every alias already
imported by a loaded package module), so it must run before
``registry.load_all`` imports the operator modules.  A wrapper only records
a span when the tracer is enabled; it never changes arguments, results or
exceptions.
"""

from __future__ import annotations

import functools
import itertools
import os
import sys
import threading
import time

PKG = "esxsnmp_tsdb_spark"

# (module, attribute, layer): the public functions each layer is entered by.
# Methods are named "Class.method".
TRACED = (
    ("esxsnmp_tsdb_spark.session", "tune", "session"),
    ("esxsnmp_tsdb_spark.sources.catalog", "load_table", "sources.catalog"),
    ("esxsnmp_tsdb_spark.sources.catalog", "register_views", "sources.catalog"),
    ("esxsnmp_tsdb_spark.sources.catalog", "load_obs", "sources.catalog"),
    ("esxsnmp_tsdb_spark.sources.catalog", "load_events_range", "sources.catalog"),
    ("esxsnmp_tsdb_spark.sources.ladder", "build_ladder", "sources.ladder"),
    ("esxsnmp_tsdb_spark.sources.compaction", "compact_flat", "sources.compaction"),
    ("esxsnmp_tsdb_spark.api", "TSDBVar.insert_batch", "api"),
    ("esxsnmp_tsdb_spark.api", "TSDBVar.select", "api"),
    ("esxsnmp_tsdb_spark.api", "TSDBVar.timerange", "api"),
    ("esxsnmp_tsdb_spark.api", "TSDBVar.get_last", "api"),
    ("esxsnmp_tsdb_spark.api", "TSDBVar.update_all_aggregates", "api"),
    ("esxsnmp_tsdb_spark.api", "TSDBVar.compact", "api"),
)


def _parquet_files(path: str) -> list[str]:
    return [
        os.path.join(root, f)
        for root, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    ]


class Tracer:
    """In-memory span recorder.  A span is a dict with ``id``, ``name``,
    ``layer``, ``start``/``end`` (epoch seconds), ``parent`` and ``run``;
    benchmark call spans also carry their job group and build end."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        # Seconds spent in tracing code itself (span bookkeeping, job-group
        # calls, compaction file listings): what tracing adds to each call.
        self.cost = 0.0
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str, **extra) -> dict:
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "layer": layer,
            "start": time.time(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "run": self.run_id,
            **extra,
        }
        stack.append(span["id"])
        self.spans.append(span)
        return span

    def close(self, span: dict) -> None:
        span["end"] = time.time()
        stack = self._stack()
        if stack and stack[-1] == span["id"]:
            stack.pop()

    # -- wrappers ----------------------------------------------------------

    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            c0 = time.perf_counter()
            extra = {}
            if name == "compact_flat":
                extra = {"files_in": len(_parquet_files(args[1]))}
            span = tracer.open(name, layer, **extra)
            tracer.cost += time.perf_counter() - c0
            try:
                return fn(*args, **kwargs)
            finally:
                c1 = time.perf_counter()
                tracer.close(span)
                if name == "compact_flat":
                    out = _parquet_files(args[1])
                    span["files_out"] = len(out)
                    span["bytes_out"] = sum(os.path.getsize(f) for f in out)
                tracer.cost += time.perf_counter() - c1

        return traced

    def install(self) -> None:
        """Wrap every function in :data:`TRACED` and rebind the aliases
        that already-imported package modules hold."""
        import importlib

        replaced = {}
        for mod_name, attr, layer in TRACED:
            mod = importlib.import_module(mod_name)
            owner, _, meth = attr.rpartition(".")
            target = getattr(mod, owner) if owner else mod
            orig = getattr(target, meth)
            wrapped = self._wrap(orig, meth, layer)
            setattr(target, meth, wrapped)
            if not owner:
                replaced[id(orig)] = wrapped
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith(PKG):
                continue
            for key, val in list(vars(mod).items()):
                if id(val) in replaced:
                    setattr(mod, key, replaced[id(val)])


def wrap_ops(queries: dict, tracer: Tracer) -> dict:
    """Op callables with a build span each (the op function's own run)."""

    def one(key, fn):
        @functools.wraps(fn)
        def traced(spark, sf_dir):
            if not tracer.enabled:
                return fn(spark, sf_dir)
            c0 = time.perf_counter()
            span = tracer.open(key, "operators")
            tracer.cost += time.perf_counter() - c0
            try:
                return fn(spark, sf_dir)
            finally:
                c1 = time.perf_counter()
                tracer.close(span)
                tracer.cost += time.perf_counter() - c1

        return traced

    return {k: one(k, fn) for k, fn in queries.items()}


# -- Spark status store ----------------------------------------------------


def _opt(o):
    return o.get() if o.isDefined() else None


def read_jobs(spark) -> list[dict]:
    """Every job the status store still holds, with its stages' metrics.

    Works with the UI disabled: the store is fed by the listener bus, not
    by the web UI."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    qs = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        stages = []
        sids = j.stageIds()
        for k in range(sids.size()):
            try:
                s = store.lastStageAttempt(sids.apply(k))
            except Exception:  # evicted from the store: nothing to read
                continue
            if s.status().toString() == "SKIPPED":
                continue
            p50 = pmax = None
            summary = store.taskSummary(s.stageId(), s.attemptId(), qs)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                p50, pmax = rt.apply(0), rt.apply(1)
            stages.append(
                {
                    "id": s.stageId(),
                    "tasks": s.numTasks(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ms": s.executorCpuTime() / 1e6,
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "gc_ms": s.jvmGcTime(),
                    "task_p50_ms": p50,
                    "task_max_ms": pmax,
                }
            )
        out.append(
            {
                "id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "submitted": sub.getTime() / 1000.0 if sub else None,
                "completed": done.getTime() / 1000.0 if done else None,
                "stages": stages,
            }
        )
    return sorted(out, key=lambda j: j["id"])
